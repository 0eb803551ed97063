package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL-first access through the V2 TableCatalog: committed tables become
  * `<catalog>.default.<table>` with the same pruning + vectorized reads. */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("catalog lists committed tables and serves SQL with pushdown") {
    val warehouse = TestSpark.tempDir("graft-cat-").toString
    graft.table.EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", s"$warehouse/events")
    spark.conf.set("spark.sql.catalog.zcat", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.zcat.warehouse", warehouse)

    val tables = spark.sql("SHOW TABLES IN zcat.default").collect().map(_.getString(1))
    assert(tables.contains("events"))

    val n = spark.sql(
      "SELECT count(*) AS n FROM zcat.default.events WHERE partition = 1 AND sequence >= 10")
      .head().getLong(0)
    val expected = graft.table.EventTable.readCommitted(spark, s"$warehouse/events")
      .filter("partition = 1 AND sequence >= 10").count()
    assert(n === expected && n > 0)

    // unknown table → analysis error, not a crash
    val err = intercept[Exception](spark.sql("SELECT * FROM zcat.default.nosuch").collect())
    assert(err.getMessage.toLowerCase.contains("table"))

    // read-only: writes are refused
    val werr = intercept[Exception](
      spark.sql("CREATE TABLE zcat.default.newtable (id BIGINT) USING graft"))
    assert(werr.getMessage.toLowerCase.contains("read-only"))
  }

  test("df.write.format(graft) appends through the engine pipeline") {
    import org.apache.spark.sql.functions._
    val root = TestSpark.tempDir("graft-v1-write-").toString
    val spark2 = spark
    import spark2.implicits._
    val df = (0 until 60).map(i => (i % 4, s"p$i", 1000L + i, s"k$i"))
      .toDF("partition", "payload", "timestamp_ms", "idempotency_key")
    df.write.format("graft").mode("append").save(root)
    // a second append with overlapping keys dedupes against the table
    df.limit(30).write.format("graft").mode("append").save(root)
    val back = spark.read.format("graft").load(root)
    assert(back.count() === 60L)
    back.groupBy("partition").agg(count(lit(1)).as("n"), max("sequence").as("mx"))
      .collect().foreach(r => assert(r.getAs[Long]("mx") === r.getAs[Long]("n")))
    // non-append modes and missing columns fail loudly
    val e1 = intercept[Exception](df.write.format("graft").mode("overwrite").save(root))
    assert(e1.getMessage.toLowerCase.contains("append-only"))
    val e2 = intercept[Exception](
      Seq((1, "x")).toDF("partition", "payload").write.format("graft").mode("append").save(root))
    assert(e2.getMessage.contains("timestamp_ms"))
  }

  test("catalog serves extracted-schema tables with their typed columns") {
    val warehouse = TestSpark.tempDir("graft-cat-ext-").toString
    val cfg = graft.extract.TableSchemaConfig(fields =
      Seq(graft.extract.FieldSpec("k", "k", "Int32")))
    graft.table.EventTable.ingestAndCommitExtracted(
      spark, "/root/testdata/sf0.001", s"$warehouse/exttab", cfg)
    spark.conf.set("spark.sql.catalog.zext", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.zext.warehouse", warehouse)
    val df = spark.sql("SELECT k, _payload_overflow FROM zext.default.exttab WHERE k IS NOT NULL")
    assert(df.schema("k").dataType === org.apache.spark.sql.types.IntegerType,
      "the extracted column's Iceberg type must surface through the catalog")
    assert(df.count() > 0)
  }

  test("catalog reads schema-EVOLVED tables: old files yield null for added columns") {
    val warehouse = TestSpark.tempDir("graft-cat-evo-").toString
    val root      = s"$warehouse/evolved"
    val log = graft.core.EventLog.log(spark, "/root/testdata/sf0.001")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val half = log.agg(org.apache.spark.sql.functions.max("event_id")).head().getLong(0) / 2
    val cfg1 = graft.extract.TableSchemaConfig(fields = Seq(graft.extract.FieldSpec("k", "k", "Int32")))
    val cfg2 = graft.extract.TableSchemaConfig(fields = Seq(
      graft.extract.FieldSpec("k", "k", "Int32"), graft.extract.FieldSpec("k_str", "k", "Utf8")))
    graft.table.EventTable.appendExtracted(spark, log.filter("event_id <= " + half), root, cfg1)
    graft.table.EventTable.appendExtracted(spark, log.filter("event_id > " + half), root, cfg2)
    log.unpersist()

    spark.conf.set("spark.sql.catalog.zevo", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.zevo.warehouse", warehouse)
    val rows = spark.sql(
      "SELECT count(*) AS n, count(k_str) AS n_k_str, count(k) AS n_k FROM zevo.default.evolved")
      .head()
    val expected = graft.table.EventTable.readCommittedProjected(spark, root)
    assert(rows.getLong(0) === expected.count())
    assert(rows.getLong(1) > 0 && rows.getLong(1) < rows.getLong(0), "k_str only in new files")
    assert(rows.getLong(2) === rows.getLong(0), "k present everywhere")
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF read historical snapshots") {
    val warehouse = TestSpark.tempDir("graft-tt-cat-").toString
    val root      = s"$warehouse/ttable"
    val c         = graft.table.EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root)
    val snap1     = c.load().get.currentSnapshotId.get
    val rows1     = graft.table.EventTable.readCommitted(spark, root).count()
    Thread.sleep(5)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(5)
    // second snapshot: append a copy of one file's worth of extra data
    val extra = graft.table.EventTable.readCommitted(spark, root).limit(50)
      .withColumn("sequence", org.apache.spark.sql.functions.col("sequence") + 100000L)
    val paths = graft.table.EventTable.writeData(extra, root)
    val files = graft.table.EventTable.collectDataFiles(spark, root, paths)
    c.commitAppend(files, graft.table.EventTable.watermarksOf(files))

    spark.conf.set("spark.sql.catalog.ttcat", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ttcat.warehouse", warehouse)
    val now = spark.sql("SELECT count(*) FROM ttcat.default.ttable").head().getLong(0)
    val old = spark.sql(s"SELECT count(*) FROM ttcat.default.ttable VERSION AS OF $snap1").head().getLong(0)
    val tsLit = new java.sql.Timestamp(betweenMs).toString
    val atTs = spark.sql(s"SELECT count(*) FROM ttcat.default.ttable TIMESTAMP AS OF '$tsLit'").head().getLong(0)
    assert(now === rows1 + 50)
    assert(old === rows1, "VERSION AS OF must see the pre-append snapshot")
    assert(atTs === rows1, "TIMESTAMP AS OF between the commits must see the first snapshot")
    val badVersion = intercept[Exception](
      spark.sql("SELECT * FROM ttcat.default.ttable VERSION AS OF 123456").collect())
    assert(badVersion.getMessage.contains("no snapshot"))

    // ref-NAME time travel: a user tag resolves by name through SQL and
    // the DataFrame option; 'main' tracks the head; unknown names refuse
    // naming what exists
    c.createTag("before-extra", snap1)
    val viaTag = spark.sql(
      "SELECT count(*) FROM ttcat.default.ttable VERSION AS OF 'before-extra'").head().getLong(0)
    assert(viaTag === rows1, "VERSION AS OF '<tag>' must read the tagged snapshot")
    assert(spark.sql("SELECT count(*) FROM ttcat.default.ttable VERSION AS OF 'main'")
      .head().getLong(0) === rows1 + 50)
    assert(spark.read.format("graft").option("versionAsOf", "before-extra").load(root)
      .count() === rows1)
    val badRef = intercept[Exception](
      spark.sql("SELECT * FROM ttcat.default.ttable VERSION AS OF 'no-such-tag'").collect())
    assert(badRef.getMessage.contains("no ref") && badRef.getMessage.contains("before-extra"))
    // drop: the name is gone; unknown drops refuse
    c.dropTag("before-extra")
    intercept[Exception](
      spark.sql("SELECT * FROM ttcat.default.ttable VERSION AS OF 'before-extra'").collect())
    intercept[Exception](c.dropTag("before-extra"))
  }
}

import graft.spark.{GraftInputPartition, GraftScan}
import graft.table.EventTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The custom V2 source must agree with the manifest-driven reader and
  * actually file-prune on pushed filters. */
class GraftDataSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val root: String = {
    val r = TestSpark.tempDir("graft-v2-spec-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", r, fragmentInto = Some(32))
    r
  }

  test("V2 scan reports manifest-exact statistics and prunes files on runtime filters") {
    import org.apache.spark.sql.functions.col
    val c = new graft.iceberg.IcebergCommitter(
      graft.iceberg.TableIO.forRoot(root), EventTable.Topic)
    val files = c.activeDataFiles()

    // statistics: the optimized scan relation's size/rows are the manifest
    // totals — what Catalyst's auto-broadcast decision reads for a join
    def scanStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.stats
      }.get
    val full = scanStats(spark.read.format("graft").load(root))
    assert(full.sizeInBytes === BigInt(files.map(_.fileSizeInBytes).sum))
    assert(full.rowCount.contains(BigInt(files.map(_.recordCount).sum)))
    // a pushed filter shrinks the estimate to the surviving files
    val p3files = files.filter(_.lowerInt(graft.iceberg.FieldIds.Partition).contains(3))
    val pruned = scanStats(spark.read.format("graft").load(root).filter(col("partition") === 3))
    assert(pruned.sizeInBytes === BigInt(p3files.map(_.fileSizeInBytes).sum))
    assert(pruned.sizeInBytes < full.sizeInBytes)

    // end to end: the stats make a dim-sized graft table AUTO-broadcast in
    // a join (the other side, 2M range rows = 16 MB estimated, is over the
    // 10 MB default threshold — only the graft side qualifies). Without
    // reported stats the relation defaults to "huge" and this would be a
    // sort-merge join shuffling both sides.
    val big  = spark.range(0, 2000000).selectExpr("id AS seq2")
    val join = spark.read.format("graft").load(root)
      .join(big, col("sequence") === col("seq2"))
    assert(join.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
      "a manifest-small graft table must broadcast without a hint")

    // runtime (DPP) filters, in Spark's REAL call order: the columnar
    // rules force a plan during executed-plan preparation BEFORE any
    // runtime filter exists, then BatchScanExec delivers filter() and
    // re-plans at execution — the re-plan must be the pruned one, never
    // the first plan's memo (the silent-no-op class)
    val schema = graft.spark.GraftDataSource.sparkSchema(root)
    val scan = new graft.spark.GraftScanBuilder(root, schema).build()
    val rf = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    assert(rf.filterAttributes().map(_.describe()).contains("partition"))
    val baseline = scan.toBatch.planInputPartitions().length // pre-filter forcing
    rf.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("partition", Array(3))))
    val planned = scan.toBatch.planInputPartitions()
    assert(planned.nonEmpty && planned.length < baseline,
      s"runtime IN(partition=3) must prune files: $baseline -> ${planned.length}")
    assert(planned.forall(_.asInstanceOf[graft.spark.GraftInputPartition].relPath.contains("partition=3")))
  }

  test("MoR V2 scan: folds both delete kinds at read; streams, SQL, and time travel compose") {
    import graft.table.EventTable
    import org.apache.spark.sql.functions.col
    val warehouse = TestSpark.tempDir("graft-morscan-").toString
    val root      = s"$warehouse/mortable"
    val c = EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(32))
    val preDelete = c.load().get.currentSnapshotId.get
    val preRows   = EventTable.readCommitted(spark, root).count()
    val r1 = EventTable.deleteWhereMor(spark, root, col("sequence") % 9 === 4)
    val eqKeys = EventTable.readCommitted(spark, root)
      .filter(col("sequence") % 11 === 3).select("partition", "sequence")
    val r2 = EventTable.deleteWhereEq(spark, root, eqKeys)
    assert(r1.deletedRows > 0 && r2.keys > 0)
    val deleteEra = c.load().get.currentSnapshotId.get
    val masked    = preRows - r1.deletedRows - r2.keys
    spark.conf.set("spark.sql.catalog.morcat", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.morcat.warehouse", warehouse)
    // the live V2 scan applies BOTH kinds — row set equals the MoR read
    assert(spark.read.format("graft").load(root).count() === masked)
    assert(spark.read.format("graft").load(root)
      .filter(col("sequence") % 9 === 4 || col("sequence") % 11 === 3).count() === 0)
    val v2 = spark.read.format("graft").load(root)
      .select("partition", "sequence").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val mor = EventTable.readCommitted(spark, root)
      .selectExpr("cast(partition as int)", "sequence").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(v2 === mor, "V2 scan and readCommitted must agree row-for-row")
    // SQL surface and time travel: pre-delete snapshot unmasked,
    // delete-era masked (its delete files still exist)
    assert(spark.sql("SELECT count(*) FROM morcat.default.mortable").head().getLong(0) === masked)
    assert(spark.sql(
      s"SELECT count(*) FROM morcat.default.mortable VERSION AS OF $preDelete")
      .head().getLong(0) === preRows)
    assert(spark.sql(
      s"SELECT count(*) FROM morcat.default.mortable VERSION AS OF $deleteEra")
      .head().getLong(0) === masked)
    // streaming bootstrap masks too — no masked row may enter the sink
    val sink = TestSpark.tempDir("graft-morscan-sink-").toString
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("parquet")
      .option("path", s"$sink/data").option("checkpointLocation", s"$sink/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(s"$sink/data").count() === masked)
    // after compaction folds everything the live scan is unchanged; the
    // delete-ERA snapshot is now unreadable (its delete parquet was
    // physically reclaimed — the same contract as time travel across any
    // replace), loudly, never silently unmasked
    while (graft.table.Compaction.compact(spark, root).isDefined) ()
    assert(c.activeDeleteFiles().isEmpty)
    assert(spark.read.format("graft").load(root).count() === masked)
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM morcat.default.mortable VERSION AS OF $deleteEra").collect()
    }
  }

  test("over-cap MoR masks escalate to a broadcast, never shuffle, and refuse past the max") {
    import graft.table.EventTable
    import org.apache.spark.sql.functions.col
    val root = TestSpark.tempDir("graft-morbc-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(16))
    val preRows = EventTable.readCommitted(spark, root).count()
    val r1 = EventTable.deleteWhereMor(spark, root, col("sequence") % 7 === 2)
    val eqKeys = EventTable.readCommitted(spark, root)
      .filter(col("sequence") % 13 === 5).select("partition", "sequence")
    val r2 = EventTable.deleteWhereEq(spark, root, eqKeys)
    assert(r1.deletedRows > 0 && r2.keys > 0)
    val masked = preRows - r1.deletedRows - r2.keys
    val inline = spark.read.format("graft").load(root)
      .selectExpr("cast(partition as int)", "sequence").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(inline.size.toLong === masked)
    try {
      // force the broadcast path: every delete set is now "over-cap"
      spark.conf.set("spark.graft.mor.inlineMaskRows", "1")
      val viaBc = spark.read.format("graft").load(root)
        .selectExpr("cast(partition as int)", "sequence")
      // plan pin: masks ride a broadcast VARIABLE inside the readers — the
      // plan itself must contain no join/exchange below the scan at all
      val plan = viaBc.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"broadcast-mask scan must not plan a join:\n$plan")
      assert(viaBc.collect().map(r => (r.getInt(0), r.getLong(1))).toSet === inline,
        "broadcast-shipped masks must produce row-identical results")
      // absolute ceiling: refuse loudly, compaction is overdue
      spark.conf.set("spark.graft.mor.maxMaskRows", "1")
      val err = intercept[Exception] {
        spark.read.format("graft").load(root).count()
      }
      assert(err.getMessage.contains("compact"), s"unexpected: ${err.getMessage}")
    } finally {
      spark.conf.unset("spark.graft.mor.inlineMaskRows")
      spark.conf.unset("spark.graft.mor.maxMaskRows")
    }
  }

  test("statistics subtract unfolded MoR mask rows; a masked dim auto-broadcasts on live size") {
    import graft.table.EventTable
    import org.apache.spark.sql.functions.col
    val root = TestSpark.tempDir("graft-morstats-").toString
    val c = EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(16))
    val preRows = EventTable.readCommitted(spark, root).count()
    val r1 = EventTable.deleteWhereMor(spark, root, col("sequence") % 7 === 2)
    val eqKeys = EventTable.readCommitted(spark, root)
      .filter(col("sequence") % 13 === 5).select("partition", "sequence")
    val r2 = EventTable.deleteWhereEq(spark, root, eqKeys)
    assert(r1.deletedRows > 0 && r2.keys > 0)
    // with BOTH delete kinds active the estimate subtracts max(pos, eq) —
    // eq keys may already be pos-masked (deleteWhereEq never scans), so
    // summing could double-subtract; max can only OVERSTATE live rows
    val trueLive = preRows - r1.deletedRows - r2.keys
    val live     = preRows - math.max(r1.deletedRows, r2.keys)
    assert(live >= trueLive, "the mixed-kind bound must never understate")
    val files = c.activeDataFiles()
    val rawRows  = files.map(_.recordCount).sum
    val rawBytes = files.map(_.fileSizeInBytes).sum
    assert(rawRows === preRows)
    def scanStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.stats
      }.get
    val st = scanStats(spark.read.format("graft").load(root))
    assert(st.rowCount.contains(BigInt(live)),
      s"row estimate must subtract the safe mixed-kind mask bound: got ${st.rowCount}, want $live")
    val liveBytes = math.max(1L, (rawBytes.toDouble * live / rawRows).toLong)
    assert(st.sizeInBytes === BigInt(liveBytes))
    // auto-broadcast decides on the LIVE size: a threshold between the
    // live and raw sizes still broadcasts the masked dim
    val thr  = (liveBytes + rawBytes) / 2
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr.toString)
      val big  = spark.range(0, 2000000).selectExpr("id AS seq2")
      val join = spark.read.format("graft").load(root).join(big, col("sequence") === col("seq2"))
      assert(join.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
        "the masked dim's LIVE size is under the threshold — it must broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // the driver receives masks already aggregated (executor-side dedup +
    // sort): per-key arrays sorted and distinct, totals exact
    val (posBy, eqBy) = graft.spark.GraftScan.deleteMasksFor(root, c.activeDeleteFiles())
    assert(posBy.nonEmpty && eqBy.nonEmpty)
    posBy.values.foreach(a => assert(a.toSeq === a.toSeq.distinct.sorted))
    eqBy.values.foreach(a => assert(a.toSeq === a.toSeq.distinct.sorted))
    assert(posBy.values.map(_.length.toLong).sum === r1.deletedRows)
    assert(eqBy.values.map(_.length.toLong).sum === r2.keys)
  }

  test("eq keys covering already-pos-masked rows never understate the row estimate") {
    // the r19-advice scenario: a CDC writer tombstones keys a position
    // mask already covers (deleteWhereEq never scans, so it cannot know).
    // Summing the two kinds would double-subtract every such row and the
    // shrunken estimate could wrongly broadcast a big fact side; the
    // max(pos, eq) bound keeps the estimate at or above the true count.
    import graft.table.EventTable
    import org.apache.spark.sql.functions.col
    val root = TestSpark.tempDir("graft-morstats2-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(8))
    val preRows = EventTable.readCommitted(spark, root).count()
    // capture the keys FIRST (collected — the lazy frame would re-read
    // post-delete and see nothing), pos-delete them, then eq-delete the
    // same keys
    val keys = EventTable.readCommitted(spark, root)
      .filter(col("sequence") % 7 === 2).select("partition", "sequence")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val r1 = EventTable.deleteWhereMor(spark, root, col("sequence") % 7 === 2)
    import spark.implicits._
    val r2 = EventTable.deleteWhereEq(spark, root,
      keys.toSeq.toDF("partition", "sequence"))
    assert(r1.deletedRows === keys.length.toLong && r2.keys === keys.length.toLong)
    val trueLive = EventTable.readCommitted(spark, root).count()
    assert(trueLive === preRows - r1.deletedRows, "eq keys mask rows already pos-masked")
    val st = spark.read.format("graft").load(root)
      .queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.stats
      }.get
    assert(st.rowCount.contains(BigInt(trueLive)),
      s"fully-overlapping masks: max(pos, eq) is exact here, got ${st.rowCount} want $trueLive")
    assert(st.rowCount.get >= BigInt(trueLive), "the estimate must never understate live rows")
  }

  test("a masked V2 scan stays COLUMNAR and a bounds-pruned scan opens zero delete files") {
    import graft.table.EventTable
    import org.apache.spark.sql.functions.col
    val root = TestSpark.tempDir("graft-morcol-").toString
    EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(16))
    // confine BOTH delete kinds to partition 0, so a partition-pruned scan
    // of any other partition provably needs no tombstones at all
    val r1 = EventTable.deleteWhereMor(spark, root,
      col("partition") === 0 && col("sequence") % 5 === 2)
    val eqKeys = EventTable.readCommitted(spark, root)
      .filter(col("partition") === 0 && col("sequence") % 7 === 3)
      .select("partition", "sequence")
    val r2 = EventTable.deleteWhereEq(spark, root, eqKeys)
    assert(r1.deletedRows > 0 && r2.keys > 0)

    // 1) the masked scan plans COLUMNAR (verdict r17 #2: one delete file
    //    must not de-vectorize the whole scan)
    val df = spark.read.format("graft").load(root)
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.head.supportsColumnar,
      "a delete-bearing V2 scan must stay columnar")
    // and the masked columnar rows equal the reference MoR read
    val v2 = df.selectExpr("cast(partition as int)", "sequence")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val mor = EventTable.readCommitted(spark, root)
      .selectExpr("cast(partition as int)", "sequence")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(v2 === mor, "masked columnar scan must agree row-for-row with readCommitted")
    // equality masks apply even when the projection excludes `sequence`
    // (the hidden-column path)
    val perPart = df.groupBy("partition").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expPart = EventTable.readCommitted(spark, root).groupBy("partition").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perPart === expPart)

    // 2) tombstone-read pruning (verdict r17 #3): a scan pruned to a
    //    partition the deletes cannot touch opens ZERO delete parquets and
    //    plans ZERO masks (the partition check also guards against a stale
    //    mask-cache hit masquerading as pruning)
    val c0 = graft.spark.GraftScan.deleteFilesOpened.get()
    val pruned  = spark.read.format("graft").load(root).filter(col("partition") === 3)
    val nPruned = pruned.count()
    assert(graft.spark.GraftScan.deleteFilesOpened.get() === c0,
      "a partition-pruned scan must not read delete files for other partitions")
    val prunedParts = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.inputPartitions.map(_.asInstanceOf[GraftInputPartition])
    assert(prunedParts.nonEmpty && prunedParts.forall(p =>
      p.delPositions.isEmpty && p.eqSeqs.isEmpty && !p.broadcastMasks),
      "pruned-away deletes must leave no masks on the surviving partitions")
    assert(nPruned === EventTable.readCommitted(spark, root)
      .filter(col("partition") === 3).count())
    // ... while a scan touching the deleted partition carries its masks
    val touched = spark.read.format("graft").load(root).filter(col("partition") === 0)
    assert(touched.count() === EventTable.readCommitted(spark, root)
      .filter(col("partition") === 0).count())
    val touchedParts = touched.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.inputPartitions.map(_.asInstanceOf[GraftInputPartition])
    assert(touchedParts.exists(p => p.delPositions.nonEmpty || p.eqSeqs.nonEmpty),
      "the deleted partition's scan must carry masks")
    // and the exact-bounds helper is pinned directly (cache-independent)
    val c = new graft.iceberg.IcebergCommitter(
      graft.iceberg.TableIO.forRoot(root), EventTable.Topic)
    val dels = c.activeDeleteFiles()
    val p3   = c.activeDataFiles().filter(_.filePath.contains("partition=3"))
    val p0   = c.activeDataFiles().filter(_.filePath.contains("partition=0"))
    assert(EventTable.pruneDeleteFiles(p3, dels).isEmpty,
      "partition-3 files overlap no delete bounds")
    assert(EventTable.pruneDeleteFiles(p0, dels).size === dels.size,
      "partition-0 files overlap every delete file")
  }

  test("V2 scan reads a spec-evolved table, recovering event_date from the path") {
    import graft.table.EventTable
    import org.apache.spark.sql.functions.col
    val root = TestSpark.tempDir("graft-specv2-").toString
    val c = EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(8))
    assert(c.evolvePartitionSpec(graft.iceberg.PartitionSpec.dateFields))
    val committed0 = EventTable.readCommitted(spark, root)
    val batch = graft.table.TailBatch.of(committed0, n = 5, maxPart = 2,
                                         kShift = Some(111000L), prefix = "z")
    EventTable.appendBatch(spark, root, batch)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("cast(partition as int)", "sequence", "cast(event_date as string)")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    val expect = rows(EventTable.readCommitted(spark, root))
    val v2     = rows(spark.read.format("graft").load(root))
    assert(v2 === expect, "V2 scan must agree row-for-row on a mixed-spec table")
    assert(expect.exists(_._3 != null) && v2.forall(_._3 != null),
      "event_date must be non-null on both specs (page column OR path key)")
    // pushdown on the evolved directory key: a date equality prunes via the
    // path-derived identity bounds and returns the same rows as the batch read
    val day = EventTable.readCommitted(spark, root).selectExpr("min(event_date)").head().getDate(0)
    val v2Day = spark.read.format("graft").load(root).filter(col("event_date") === day).count()
    assert(v2Day === EventTable.readCommitted(spark, root).filter(col("event_date") === day).count())
    assert(v2Day > 0)
  }

  test("format(graft) equals the manifest-driven parquet read") {
    val v2   = spark.read.format("graft").load(root).select("sequence", "partition", "timestamp_ms", "payload")
    val base = EventTable.readCommitted(spark, root).select("sequence", "partition", "timestamp_ms", "payload")
    assert(v2.exceptAll(base).count() === 0L)
    assert(base.exceptAll(v2).count() === 0L)
  }

  test("pushed partition/sequence filters prune input files via manifest bounds") {
    val all = spark.read.format("graft").load(root)
    val nFiles = EventTable.listParquet(root).size
    assert(nFiles >= 24, "fragmented fixture expected")

    def partitionsOf(df: org.apache.spark.sql.DataFrame): Array[String] = {
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.nonEmpty, "expected a V2 BatchScanExec")
      scans.head.inputPartitions.map(_.asInstanceOf[GraftInputPartition].relPath).toArray
    }

    val pruned = partitionsOf(all.filter(col("partition") === 3))
    assert(pruned.nonEmpty && pruned.length < nFiles)
    assert(pruned.forall(_.contains("partition=3")))

    // sequence range narrows further within the partition
    val seqPruned = partitionsOf(all.filter(col("partition") === 3 && col("sequence") >= 100L))
    assert(seqPruned.length <= pruned.length)

    // filtered results still row-accurate (residual filters re-applied)
    val expect = EventTable.readCommitted(spark, root)
      .filter(col("partition") === 3 && col("sequence") >= 10L).count()
    assert(all.filter(col("partition") === 3 && col("sequence") >= 10L).count() === expect)
  }

  test("column pruning reaches the file reader") {
    val df = spark.read.format("graft").load(root).select("sequence")
    assert(df.schema.fieldNames === Array("sequence"))
    assert(df.distinct().count() > 0)
  }

  test("bound checks are conservative for unknown shapes") {
    import org.apache.spark.sql.sources._
    val f = graft.iceberg.DataFile(0, "data/partition=1/x.parquet", "PARQUET", 1, 1,
      Map(graft.iceberg.FieldIds.Sequence -> graft.iceberg.Bounds.encodeLong(10L)),
      Map(graft.iceberg.FieldIds.Sequence -> graft.iceberg.Bounds.encodeLong(20L)))
    assert(GraftScan.mayMatch(f, GreaterThanOrEqual("sequence", 20L)))
    assert(!GraftScan.mayMatch(f, GreaterThan("sequence", 20L)))
    assert(!GraftScan.mayMatch(f, LessThan("sequence", 10L)))
    assert(GraftScan.mayMatch(f, EqualTo("sequence", 15L)))
    assert(!GraftScan.mayMatch(f, EqualTo("sequence", 21L)))
    assert(GraftScan.mayMatch(f, EqualTo("payload", "x"))) // no bounds → keep
    assert(GraftScan.mayMatch(f, IsNotNull("sequence")))   // unhandled → keep
    // In/Or shapes
    assert(GraftScan.mayMatch(f, In("sequence", Array(5L, 15L))))
    assert(!GraftScan.mayMatch(f, In("sequence", Array(5L, 25L))))
    assert(GraftScan.mayMatch(f, In("sequence", Array(5L, "weird"))))     // partial knowledge → keep
    assert(GraftScan.mayMatch(f, Or(EqualTo("sequence", 25L), EqualTo("sequence", 15L))))
    assert(!GraftScan.mayMatch(f, Or(EqualTo("sequence", 25L), EqualTo("sequence", 30L))))
  }

  test("IN and OR filters prune files end-to-end") {
    val all = spark.read.format("graft").load(root)
    val nFiles = EventTable.listParquet(root).size
    val df = all.filter(col("partition").isin(2, 5))
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    val parts = scans.head.inputPartitions.map(_.asInstanceOf[GraftInputPartition].relPath)
    assert(parts.nonEmpty && parts.length < nFiles)
    assert(parts.forall(p => p.contains("partition=2") || p.contains("partition=5")))
    assert(df.count() === EventTable.readCommitted(spark, root)
      .filter(col("partition").isin(2, 5)).count())
  }

  test("V2 reads resolve the session's Hadoop conf: a scheme registered only there reads, masked and unmasked") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftsession.impl", classOf[SessionOnlyFs].getName)
    // uncached: a read that builds its own Configuration must not borrow
    // the driver's instance from Hadoop's process-wide FileSystem cache
    hc.setBoolean("fs.graftsession.impl.disable.cache", true)
    try {
      val root = "graftsession://" + TestSpark.tempDir("graft-session-conf-")
      EventTable.ingestAndCommit(spark, "/root/testdata/sf0.001", root, fragmentInto = Some(4))
      def v2()  = spark.read.format("graft").load(root).select("partition", "sequence")
      def mor() = EventTable.readCommitted(spark, root).select(col("partition").cast("int"), col("sequence"))
      val n0 = mor().count()
      assert(n0 > 0 && v2().count() === n0)
      assert(v2().exceptAll(mor()).count() === 0L)
      val r = EventTable.deleteWhereMor(spark, root, col("sequence") % 7 === 2)
      assert(r.deletedRows > 0)
      assert(v2().count() === n0 - r.deletedRows, "the masked read must resolve the scheme too")
      assert(v2().exceptAll(mor()).count() === 0L && mor().exceptAll(v2()).count() === 0L)
    } finally {
      hc.unset("fs.graftsession.impl")
      hc.unset("fs.graftsession.impl.disable.cache")
    }
  }
}

/** The local filesystem under its own `graftsession` scheme, for a table
  * root only the session's Hadoop conf can resolve. */
final class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftsession:///")
  override def getScheme: String = "graftsession"
}
