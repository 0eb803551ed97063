package graft.table

import graft.core.{FileMemo, Oracle}
import graft.iceberg.{FieldIds, IcebergCommitter, TableIO}
import graft.spark.GraftDataSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Queries over the COMMITTED Iceberg table — each one exercises the full
  * ingest → sorted partitioned write → stats → snapshot-commit → manifest
  * read-back pipeline, then is hash-checked against DuckDB computing the
  * same answer from the raw events. The committed table is built once per
  * (JVM, sfDir) and shared ([[CommittedTables]]).
  *
  * The metadata-only queries (manifest_stats, a1_file_stats,
  * a4_manifest_totals, f7_watermarks) never touch row data — they prove the
  * statistics and watermark plumbing that make 100 TB reads cheap.
  */
object IcebergQueries {
  private def committed(s: SparkSession, dir: String): (DataFrame, IcebergCommitter) = {
    val root = CommittedTables.tableRoot(s, dir)
    (EventTable.readCommitted(s, root), new IcebergCommitter(TableIO.forRoot(root), EventTable.Topic))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_committed_read" -> { (s, dir) =>
      committed(s, dir)._1
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n_events"),
          max("sequence").as("max_seq"),
          min("timestamp_ms").as("min_ts"),
          max("timestamp_ms").as("max_ts")
        )
    },
    "q7_cold_read" -> { (s, dir) =>
      committed(s, dir)._1
        .filter(col("partition") === 1 && col("sequence") >= 50L)
        .orderBy("sequence")
        .limit(200)
        .select(
          col("sequence"),
          col("partition").cast("int").as("part_id"),
          col("timestamp_ms"),
          col("payload").cast("string").as("props")
        )
    },
    "q3_committed_time_pruned" -> { (s, dir) =>
      // Manifest-level pruning first (file skipping via stats), then Spark
      // row-group pruning — the scale path for time-range queries.
      val root      = CommittedTables.tableRoot(s, dir)
      val committer = new IcebergCommitter(TableIO.forRoot(root), EventTable.Topic)
      val files     = EventTable.pruneByTimeRange(committer, graft.core.HotQueries.RangeLo, graft.core.HotQueries.RangeHi)
      EventTable
        .readCommitted(s, root, files)
        .filter(col("timestamp_ms") >= graft.core.HotQueries.RangeLo && col("timestamp_ms") < graft.core.HotQueries.RangeHi)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(count(lit(1)).as("n_events"), min("sequence").as("min_seq"), max("sequence").as("max_seq"))
    },
    "manifest_stats" -> { (s, dir) =>
      import s.implicits._
      val (_, committer) = committed(s, dir)
      committer.maxCommittedSequencePerPartition().toSeq.toDF("part_id", "max_committed_seq")
    },
    "a1_file_stats" -> { (s, dir) =>
      // Per-partition aggregate over MANIFEST bounds only (no data read).
      // Exact because every data file is single-partition with tight
      // footer-derived min/max — the stats that drive file skipping.
      import s.implicits._
      val (_, committer) = committed(s, dir)
      committer
        .activeDataFiles()
        .map { f =>
          (
            f.lowerInt(FieldIds.Partition).get,
            f.recordCount,
            f.lowerLong(FieldIds.Sequence).get,
            f.upperLong(FieldIds.Sequence).get,
            f.lowerLong(FieldIds.TimestampMs).get,
            f.upperLong(FieldIds.TimestampMs).get,
            f.lowerInt(FieldIds.EventDate).get,
            f.upperInt(FieldIds.EventDate).get
          )
        }
        .toDF("part_id", "record_count", "min_seq", "max_seq", "min_ts", "max_ts", "min_date", "max_date")
        .groupBy("part_id")
        .agg(
          sum("record_count").as("n_events"),
          min("min_seq").as("min_seq"),
          max("max_seq").as("max_seq"),
          min("min_ts").as("min_ts"),
          max("max_ts").as("max_ts"),
          min("min_date").as("min_date_days"),
          max("max_date").as("max_date_days")
        )
    },
    "a4_manifest_totals" -> { (s, dir) =>
      import s.implicits._
      val (_, committer) = committed(s, dir)
      val summary        = committer.load().flatMap(_.currentSnapshot).map(_.summary).getOrElse(Map.empty)
      Seq((summary("total-records").toLong, summary("total-data-files").toLong))
        .toDF("total_records", "total_data_files")
    },
    "f7_watermarks" -> { (s, dir) =>
      import s.implicits._
      val (_, committer) = committed(s, dir)
      committer.summaryWatermarks().toSeq.toDF("part_id", "watermark")
    },
    // The custom DataSource V2: spark.read.format("graft") resolves the
    // file list from OUR manifests and file-prunes on pushed filters via
    // manifest bounds (partition identity + sequence/timestamp min-max).
    // Engine-internal reads name the provider class: the short name needs
    // the META-INF/services registration, absent from a classes-only build.
    "v2_source_read" -> { (s, dir) =>
      val root = CommittedTables.tableRoot(s, dir)
      s.read.format(classOf[GraftDataSource].getName).load(root)
        .filter(col("partition") === 4 && col("sequence") >= 25L)
        .orderBy("sequence")
        .limit(250)
        .select(
          col("sequence"),
          col("partition").cast("int").as("part_id"),
          col("timestamp_ms"),
          col("payload").cast("string").as("props")
        )
    },
    // SQL-first access through the V2 TableCatalog: the committed table
    // queried as `<catalog>.default.<table>` from plain SQL, filters pushed
    // through the same manifest-pruned vectorized scan.
    "sql_catalog_read" -> { (s, dir) =>
      val root  = CommittedTables.tableRoot(s, dir)
      val p     = java.nio.file.Paths.get(root)
      val tname = p.getFileName.toString
      s.conf.set("spark.sql.catalog.graftsql", "graft.spark.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftsql.warehouse", p.getParent.toString)
      s.sql(
        s"""SELECT cast(partition as int) AS part_id, count(*) AS n_events,
           |       min(sequence) AS min_seq, max(sequence) AS max_seq
           |FROM graftsql.default.`$tname`
           |WHERE sequence > 10
           |GROUP BY 1""".stripMargin)
    },
    // Iceberg-style metadata relation through SQL: per-partition aggregate
    // over `` t$files `` — file counts, record counts, and stat bounds read
    // from MANIFESTS only (plan-time metadata), hash-checked against the
    // raw-data derivation including the size-targeted writer's exact
    // per-partition file-count arithmetic.
    "a6_files_meta" -> { (s, dir) =>
      val root  = CommittedTables.tableRoot(s, dir)
      val p     = java.nio.file.Paths.get(root)
      val tname = p.getFileName.toString
      s.conf.set("spark.sql.catalog.graftsql", "graft.spark.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftsql.warehouse", p.getParent.toString)
      s.sql(
        s"""SELECT partition AS part_id, count(*) AS n_files,
           |       sum(record_count) AS n_events,
           |       min(min_sequence) AS min_seq, max(max_sequence) AS max_seq,
           |       min(min_timestamp_ms) AS min_ts, max(max_timestamp_ms) AS max_ts
           |FROM graftsql.default.`$tname$$files`
           |GROUP BY 1""".stripMargin)
    },
    "post_compaction_read" -> { (s, dir) =>
      // Fragmented ingest (4-way salted files per dir) → compact → read back.
      // Proves C1–C3 preserve data and actually shrink file counts.
      val root = CompactedTables.tableRoot(s, dir)
      EventTable
        .readCommitted(s, root)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(count(lit(1)).as("n_events"), max("sequence").as("max_seq"))
    },
    // Copy-on-write DELETE (redaction): every event whose payload k is
    // divisible by 7 is removed; only files containing matches are
    // rewritten, swapped in one replace-snapshot. The read-back must equal
    // the batch derivation filtered the same way — deleted sequences stay
    // burned (gaps), exactly like the oracle's filter.
    "x4_delete_where" -> { (s, dir) =>
      val root = DeletedTables.tableRoot(s, dir)
      EventTable
        .readCommitted(s, root)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")).as("sum_k"),
          max("sequence").as("max_seq"))
    },
    // Merge-on-read DELETE: two successive positional-delete passes (k
    // divisible by 9, then sequence % 500 = 3) mask rows WITHOUT rewriting
    // any data file — the read path anti-joins the delete files' (file,
    // pos) rows at scan. The oracle applies the same two predicates over
    // the raw derivation; NULL-k rows (every 13th event, the x4 trick)
    // must survive pass 1 (SQL three-valued DELETE semantics on the MoR
    // path too), and a row matching both passes must vanish exactly once.
    "x8_mor_delete" -> { (s, dir) =>
      val root = MorDeletedTables.tableRoot(s, dir)
      EventTable
        .readCommitted(s, root)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")).as("sum_k"),
          max("sequence").as("max_seq"))
    },
    // Equality merge-on-read DELETE composed over a positional one: pass 1
    // masks k-divisible-by-9 rows positionally; pass 2 deletes every 17th
    // ORIGINAL event (by its (partition, sequence) key, derived from the
    // LIVE rows — the CDC path, no table scan in the engine). The read
    // must apply BOTH kinds; the oracle is the raw derivation under the
    // conjunction of the two predicates.
    "x9_eq_delete" -> { (s, dir) =>
      val root = EqDeletedTables.tableRoot(s, dir)
      EventTable
        .readCommitted(s, root)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")).as("sum_k"),
          max("sequence").as("max_seq"))
    },
    // The SQL surface over a delete-bearing table: the same x8 fixture read
    // through the V2 TableCatalog — the scan itself folds both delete
    // kinds (positional masks by row ordinal, equality keys by sequence),
    // so plain SQL over a MoR table is row-for-row correct without
    // EventTable in the loop. Hash-gated against the same raw derivation.
    "x10_mor_sql_read" -> { (s, dir) =>
      val root  = MorDeletedTables.tableRoot(s, dir)
      val p     = java.nio.file.Paths.get(root)
      val tname = p.getFileName.toString
      // catalog name is DIR-UNIQUE: Spark's CatalogManager caches the
      // catalog instance on first use, so reusing one name across sfDirs
      // in a session would silently keep the first dir's warehouse
      val cat = "graftmor_" + java.security.MessageDigest.getInstance("MD5")
        .digest(root.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", p.getParent.toString)
      s.sql(
        s"""SELECT cast(partition as int) AS part_id, count(*) AS n,
           |       sum(cast(get_json_object(cast(payload as string), '$$.k') as bigint)) AS sum_k,
           |       max(sequence) AS max_seq
           |FROM $cat.default.`$tname`
           |GROUP BY 1""".stripMargin)
    },
    // Copy-on-write MERGE (upsert): every 11th event in partitions 0–3 has
    // its payload k shifted +100000 (matched → update), every 101st event
    // spawns a NEW row at the partition tail with k = -event_id (insert). The
    // read-back must equal the oracle applying the same CASE + UNION — the
    // sum catches a missed update, the count a missed insert, max_seq the
    // watermark advance.
    "x5_merge_upsert" -> { (s, dir) =>
      val root = MergedTables.tableRoot(s, dir)
      EventTable
        .readCommitted(s, root)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")).as("sum_k"),
          max("sequence").as("max_seq"))
    },
    // Snapshot rollback: a poison append (k=999999 rows past every
    // watermark) is undone by rollbackTo(base). The read-back must equal
    // the PLAIN ingest derivation — a rollback that silently kept the
    // head would inflate n and sum_k and advance max_seq.
    "x6_rollback" -> { (s, dir) =>
      val root = RolledBackTables.tableRoot(s, dir)
      EventTable
        .readCommitted(s, root)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")).as("sum_k"),
          max("sequence").as("max_seq"))
    },
    // Write-audit-publish: a staged batch (5 tail rows per partition 0–1,
    // k = 1000000 + original event id) is INVISIBLE until publish
    // fast-forwards the pointer (the fixture asserts both phases). The
    // read-back must equal the oracle's evlog + the same staged
    // arithmetic — a stage that leaked early or a publish that dropped
    // rows both break the sum.
    "x7_wap" -> { (s, dir) =>
      val root = StagedTables.tableRoot(s, dir)
      EventTable
        .readCommitted(s, root)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")).as("sum_k"),
          max("sequence").as("max_seq"))
    },
    // Snapshot expiration + metadata GC: a three-snapshot table (ingest,
    // tail A, tail B) expires its oldest snapshot, then TIME TRAVELS to the
    // retained middle one — evlog + tail A, no trace of tail B. The fixture
    // asserts what the oracle cannot: the expiry actually removed snap1
    // (time travel to it fails LOUD, not empty) while every file a retained
    // snapshot references survived the physical GC.
    "x11_expire" -> { (s, dir) =>
      val (root, mid) = ExpiredTables.tableRootAndMid(s, dir)
      EventTable
        .readCommitted(s, root, atSnapshot = Some(mid))
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")).as("sum_k"),
          max("sequence").as("max_seq"))
    },
    // Partition-spec evolution: old files carry spec-0 (identity partition
    // dirs), files appended after evolvePartitionSpec carry spec-1
    // (partition + event_date dirs, event_date now a DIRECTORY key instead
    // of a page column). The FULL mixed-spec read (a union of one scan per
    // layout) rolls up per partition INCLUDING the event_date days — so a
    // path-recovered date that disagreed with the page-stored derivation
    // breaks the hash. The fixture asserts the layout mechanics (new files
    // nested under event_date= with single-date identity bounds, old files
    // flat, both spec ids live in the manifest list); date-dir PRUNING is
    // pinned by the V2 pushdown test in GraftDataSourceSpec.
    "x12_spec_evolution" -> { (s, dir) =>
      val root = SpecEvolvedTables.tableRoot(s, dir)
      EventTable.readCommitted(s, root)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")).as("sum_k"),
          max("sequence").as("max_seq"),
          min(datediff(col("event_date"), to_date(lit("1970-01-01")))).as("min_date_days"),
          max(datediff(col("event_date"), to_date(lit("1970-01-01")))).as("max_date_days"))
    },
    // CDC changefeed WITH deletes: a four-snapshot table (ingest, tail
    // append, positional MoR delete, equality MoR delete) read as change
    // rows between the base snapshot and the head — inserts reconstructed
    // from appended files, deletes from the delete files each commit
    // added, resolved against the parent snapshot's live rows. The rollup
    // by (partition, change type) gates both kinds: a feed that re-read
    // the base inflates nothing here but breaks n; a missed delete kind
    // breaks that kind's row; a double-matched row must emit once.
    "tt3_changefeed" -> { (s, dir) =>
      val (root, base) = ChangefeedTables.rootAndBase(s, dir)
      val head = new IcebergCommitter(TableIO.forRoot(root), EventTable.Topic)
        .load().get.currentSnapshotId.get
      EventTable.changesBetween(s, root, base, head)
        .groupBy(col("partition").cast("int").as("part_id"),
                 col("_change_type").as("change_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")).as("sum_k"),
          max("sequence").as("max_seq"))
    },
    // Manifest rewrite: a two-commit table (ingest + tail) coalesces its
    // carry-forward manifest list into ONE data manifest, then reads back
    // through the normal committed path. The fixture asserts the metadata
    // mechanics (manifest count dropped to 1, active file set and summary
    // totals byte-identical, per-file data sequence numbers preserved);
    // the oracle gates that the rows themselves are untouched.
    "x13_manifest_rewrite" -> { (s, dir) =>
      val root = RewrittenTables.tableRoot(s, dir)
      EventTable
        .readCommitted(s, root)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")).as("sum_k"),
          max("sequence").as("max_seq"))
    },
    // Named-ref time travel: a user tag ('pre-tail', pinned at the ingest
    // snapshot) read BY NAME through the V2 source after two tail appends
    // AND an expiry that removed the untagged middle snapshot. The rollup
    // must equal the plain ingest derivation — a ref resolving to the
    // wrong snapshot inflates n/sum_k with tail rows; a tag damaged by
    // the expiry's physical GC fails the read outright.
    "x14_tag_travel" -> { (s, dir) =>
      val root = TaggedTables.tableRoot(s, dir)
      s.read.format(classOf[GraftDataSource].getName).option("versionAsOf", "pre-tail").load(root)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")).as("sum_k"),
          max("sequence").as("max_seq"))
    },
    // Streaming tail of the committed table: the parquet sink accumulated
    // by two checkpointed AvailableNow runs (full table, then EXACTLY the
    // appended files — snapshot-id offsets) must equal the oracle's
    // evlog + tail arithmetic. A re-read doubles n; a missed tail drops
    // the 555000-shifted k sum.
    "v3_stream_tail" -> { (s, dir) =>
      val sink = TailedTables.sinkDir(s, dir)
      graft.core.ParquetTables.read(s, sink)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")).as("sum_k"),
          max("sequence").as("max_seq"))
    },
    // STREAMING CDC changefeed: the tt3 fixture shape consumed through
    // `readStream.format("graft").option("changefeed", "true")` in two
    // checkpointed AvailableNow runs — run 1 tails the append + positional
    // delete commits, run 2 resumes the SAME checkpoint and must emit
    // exactly the equality pass's delete rows (snapshot-id offsets). The
    // accumulated sink must equal the batch feed's rollup — the oracle IS
    // tt3's (identical fixture arithmetic), so the streamed reconstruction
    // is gated row-for-row against the same derivation.
    "w8_stream_changefeed" -> { (s, dir) =>
      val sink = StreamedChangefeedTables.sinkDir(s, dir)
      graft.core.ParquetTables.read(s, sink)
        .groupBy(col("partition").cast("int").as("part_id"),
                 col("_change_type").as("change_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")).as("sum_k"),
          max("sequence").as("max_seq"))
    }
  )

  /** The shared tt3/w8 oracle body: the change rows rebuilt from the
    * fixture arithmetic (tail inserts, k%9 positional pass over base ∪
    * tail with NULL-k survivors, every-17th equality pass among the
    * pass-1 survivors) — one derivation, consumed by the batch feed and
    * the streamed feed alike. */
  private val ChangefeedOracleSql: String =
    """, wm AS (SELECT part_id, max(sequence) AS wm FROM evlog GROUP BY 1),
      |tail AS (
      |  SELECT part_id, wm + rn AS sequence, 444000 + evid AS k, evid
      |  FROM (
      |    SELECT e.part_id, wm.wm,
      |           CAST(substring(e.idempotency_key, 2) AS BIGINT) AS evid,
      |           row_number() OVER (PARTITION BY e.part_id ORDER BY e.sequence) AS rn
      |    FROM evlog e JOIN wm ON wm.part_id = e.part_id
      |    WHERE e.part_id < 2)
      |  WHERE rn <= 5
      |), allr AS (
      |  SELECT part_id, sequence,
      |         CAST(json_extract_string(
      |           CASE WHEN event_id % 13 = 0
      |                THEN '{"nk": ' || json_extract_string(props, '$.k') || '}'
      |                ELSE props END, '$.k') AS BIGINT) AS k,
      |         CAST(substring(idempotency_key, 2) AS BIGINT) AS evid
      |  FROM evlog
      |  UNION ALL SELECT part_id, sequence, k, evid FROM tail
      |), del1 AS (SELECT * FROM allr WHERE coalesce(k % 9 = 0, false)
      |), live1 AS (SELECT * FROM allr WHERE NOT coalesce(k % 9 = 0, false)
      |), del2 AS (SELECT * FROM live1 WHERE evid % 17 = 0
      |), changes AS (
      |  SELECT part_id, sequence, k, 'insert' AS change_type FROM tail
      |  UNION ALL SELECT part_id, sequence, k, 'delete' FROM del1
      |  UNION ALL SELECT part_id, sequence, k, 'delete' FROM del2
      |)
      |SELECT part_id, change_type, count(*) AS n,
      |       CAST(sum(k) AS BIGINT) AS sum_k, max(sequence) AS max_seq
      |FROM changes GROUP BY 1, 2""".stripMargin

  def oracles: Map[String, String] = Map(
    "ingest_committed_read" -> Oracle.sql(
      """SELECT part_id, count(*) AS n_events, max(sequence) AS max_seq,
        |       min(timestamp_ms) AS min_ts, max(timestamp_ms) AS max_ts
        |FROM evlog GROUP BY 1""".stripMargin),
    "q7_cold_read" -> Oracle.sql(
      """SELECT sequence, part_id, timestamp_ms, props FROM evlog
        |WHERE part_id = 1 AND sequence >= 50 ORDER BY sequence LIMIT 200""".stripMargin),
    "q3_committed_time_pruned" -> Oracle.sql(
      s"""SELECT part_id, count(*) AS n_events, min(sequence) AS min_seq, max(sequence) AS max_seq
         |FROM evlog WHERE timestamp_ms >= ${graft.core.HotQueries.RangeLo} AND timestamp_ms < ${graft.core.HotQueries.RangeHi}
         |GROUP BY 1""".stripMargin),
    "manifest_stats" -> Oracle.sql(
      "SELECT part_id, max(sequence) AS max_committed_seq FROM evlog GROUP BY 1"),
    "a1_file_stats" -> Oracle.sql(
      """SELECT part_id, count(*) AS n_events,
        |       min(sequence) AS min_seq, max(sequence) AS max_seq,
        |       min(timestamp_ms) AS min_ts, max(timestamp_ms) AS max_ts,
        |       min(event_date_days) AS min_date_days, max(event_date_days) AS max_date_days
        |FROM evlog GROUP BY 1""".stripMargin),
    // File count mirrors the size-targeted writer: each log partition is cut
    // into ceil((payload_bytes + 64B/row) / 128MB) sequence buckets, one
    // file per bucket (integer ceil, same arithmetic as writeData).
    "a4_manifest_totals" -> Oracle.sql(
      """SELECT (SELECT count(*) FROM evlog) AS total_records,
        |       CAST((SELECT sum(greatest(1, (sum_bytes + 134217727) // 134217728)) FROM (
        |          SELECT part_id, sum(octet_length(props::BLOB) + 64) AS sum_bytes
        |          FROM evlog GROUP BY 1)) AS BIGINT) AS total_data_files""".stripMargin),
    "f7_watermarks" -> Oracle.sql(
      "SELECT part_id, max(sequence) AS watermark FROM evlog GROUP BY 1"),
    "sql_catalog_read" -> Oracle.sql(
      """SELECT part_id, count(*) AS n_events, min(sequence) AS min_seq, max(sequence) AS max_seq
        |FROM evlog WHERE sequence > 10 GROUP BY 1""".stripMargin),
    // Per-partition file count mirrors writeData's size bucketing (the
    // a4 arithmetic, per partition instead of summed).
    "a6_files_meta" -> Oracle.sql(
      """SELECT part_id,
        |       CAST(greatest(1, (sum(octet_length(props::BLOB) + 64) + 134217727) // 134217728) AS BIGINT) AS n_files,
        |       count(*) AS n_events,
        |       min(sequence) AS min_seq, max(sequence) AS max_seq,
        |       min(timestamp_ms) AS min_ts, max(timestamp_ms) AS max_ts
        |FROM evlog GROUP BY 1""".stripMargin),
    "post_compaction_read" -> Oracle.sql(
      "SELECT part_id, count(*) AS n_events, max(sequence) AS max_seq FROM evlog GROUP BY 1"),
    // SQL DELETE semantics gate: every 13th event's payload lacks `$.k`
    // (rewritten to `{"nk": …}` by the fixture), so the delete predicate is
    // NULL on those rows — DELETE must keep them (NOT coalesce(pred, false)).
    "x4_delete_where" -> Oracle.sql(
      """SELECT part_id, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       max(sequence) AS max_seq
        |FROM (
        |  SELECT * REPLACE (CASE WHEN event_id % 13 = 0
        |                         THEN '{"nk": ' || json_extract_string(props, '$.k') || '}'
        |                         ELSE props END AS props)
        |  FROM evlog)
        |WHERE NOT coalesce(CAST(json_extract_string(props, '$.k') AS INT) % 7 = 0, false)
        |GROUP BY 1""".stripMargin),
    "v2_source_read" -> Oracle.sql(
      """SELECT sequence, part_id, timestamp_ms, props FROM evlog
        |WHERE part_id = 4 AND sequence >= 25 ORDER BY sequence LIMIT 250""".stripMargin),
    // x9 twin: positional pass (k % 9, NULL-k rows survive) AND the
    // equality pass (every 17th original event by id) — a read that
    // missed either delete KIND breaks the conjunction.
    "x9_eq_delete" -> Oracle.sql(
      """SELECT part_id, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       max(sequence) AS max_seq
        |FROM (
        |  SELECT * REPLACE (CASE WHEN event_id % 13 = 0
        |                         THEN '{"nk": ' || json_extract_string(props, '$.k') || '}'
        |                         ELSE props END AS props)
        |  FROM evlog)
        |WHERE NOT coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT) % 9 = 0, false)
        |  AND NOT (CAST(substring(idempotency_key, 2) AS BIGINT) % 17 = 0)
        |GROUP BY 1""".stripMargin),
    // x10 twin: identical to x8's — the SQL-catalog read must produce the
    // exact rows the direct MoR read does.
    "x10_mor_sql_read" -> Oracle.sql(
      """SELECT part_id, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       max(sequence) AS max_seq
        |FROM (
        |  SELECT * REPLACE (CASE WHEN event_id % 13 = 0
        |                         THEN '{"nk": ' || json_extract_string(props, '$.k') || '}'
        |                         ELSE props END AS props)
        |  FROM evlog)
        |WHERE NOT coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT) % 9 = 0, false)
        |  AND NOT (sequence % 500 = 3)
        |GROUP BY 1""".stripMargin),
    // x8 twin: the same two delete predicates over the raw derivation —
    // NULL-k rows survive the k-predicate (coalesce), both passes compose
    // with AND, a doubly-matched row disappears exactly once.
    "x8_mor_delete" -> Oracle.sql(
      """SELECT part_id, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       max(sequence) AS max_seq
        |FROM (
        |  SELECT * REPLACE (CASE WHEN event_id % 13 = 0
        |                         THEN '{"nk": ' || json_extract_string(props, '$.k') || '}'
        |                         ELSE props END AS props)
        |  FROM evlog)
        |WHERE NOT coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT) % 9 = 0, false)
        |  AND NOT (sequence % 500 = 3)
        |GROUP BY 1""".stripMargin),
    // MERGE semantics twin. The fixture recovers each row's ORIGINAL event
    // id from the idempotency key ('k<id>' — retry rows carry the retried
    // event's id), so the oracle does the same: update k+100000 where
    // id % 11 = 0; insert (-id) rows at watermark + rank(id % 101 rows by
    // their pre-merge sequence) per partition.
    "x5_merge_upsert" -> Oracle.sql(
      """, kv AS (
        |  SELECT part_id, sequence,
        |         CAST(substring(idempotency_key, 2) AS BIGINT) AS evid,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM evlog
        |), wm AS (SELECT part_id, max(sequence) AS wm FROM evlog GROUP BY 1),
        |ins AS (
        |  SELECT kv.part_id,
        |         wm.wm + row_number() OVER (PARTITION BY kv.part_id ORDER BY kv.sequence) AS sequence,
        |         -kv.evid AS k
        |  FROM kv JOIN wm USING (part_id) WHERE kv.evid % 101 = 0
        |), merged AS (
        |  SELECT part_id, sequence,
        |         CASE WHEN evid % 11 = 0 AND part_id < 4 THEN k + 100000 ELSE k END AS k
        |  FROM kv
        |  UNION ALL SELECT part_id, sequence, k FROM ins
        |)
        |SELECT part_id, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k, max(sequence) AS max_seq
        |FROM merged GROUP BY 1""".stripMargin),
    // x6 twin: the rolled-back table must equal the PLAIN ingest
    // derivation — no trace of the poison append.
    "x6_rollback" -> Oracle.sql(
      """SELECT part_id, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       max(sequence) AS max_seq
        |FROM evlog GROUP BY 1""".stripMargin),
    // x11 twin: the read AT the retained middle snapshot — evlog + tail A
    // (777000 shift) only; tail B (committed after, still current) and the
    // expired ingest-only snapshot are both invisible to this read.
    "x11_expire" -> Oracle.sql(TailBatch.oracleSql(n = 5, maxPart = 2, kShift = 777000L)),
    // x12 twin: evlog + the tail (999000 shift, keeping source timestamps
    // so tail dates equal their source rows'), rolled up with the
    // event-date day bounds — a mixed-spec read whose path-recovered dates
    // drift from the page-stored derivation breaks min/max_date_days.
    "x12_spec_evolution" -> Oracle.sql(
      s""", wm AS (SELECT part_id, max(sequence) AS wm FROM evlog GROUP BY 1),
         |tail AS (
         |  SELECT part_id, wm + rn AS sequence, timestamp_ms, 999000 + evid AS k
         |  FROM (
         |    SELECT e.part_id, wm.wm, e.timestamp_ms,
         |           CAST(substring(e.idempotency_key, 2) AS BIGINT) AS evid,
         |           row_number() OVER (PARTITION BY e.part_id ORDER BY e.sequence) AS rn
         |    FROM evlog e JOIN wm ON wm.part_id = e.part_id
         |    WHERE e.part_id < 2)
         |  WHERE rn <= 5
         |), allr AS (
         |  SELECT part_id, sequence, timestamp_ms,
         |         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
         |         event_date_days
         |  FROM evlog
         |  UNION ALL
         |  SELECT part_id, sequence, timestamp_ms, k,
         |         CAST(timestamp_ms // 86400000 AS INT)
         |  FROM tail
         |)
         |SELECT part_id, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
         |       max(sequence) AS max_seq,
         |       min(event_date_days) AS min_date_days,
         |       max(event_date_days) AS max_date_days
         |FROM allr
         |GROUP BY 1""".stripMargin),
    // tt3 twin: the change rows rebuilt from the same arithmetic — tail
    // rows (444000 shift over the first 5 per partition 0–1) are the
    // inserts; delete pass 1 is k % 9 = 0 over base ∪ tail (NULL-k rows
    // survive); pass 2 is every 17th original event among the pass-1
    // SURVIVORS (the fixture derives keys from live rows). Note 13th-event
    // payloads lack $.k exactly as in the x8 fixture.
    "tt3_changefeed" -> Oracle.sql(ChangefeedOracleSql),
    // w8 twin: the STREAMED feed accumulates the identical fixture's
    // changes across two checkpointed runs — same derivation, same rollup
    "w8_stream_changefeed" -> Oracle.sql(ChangefeedOracleSql),
    // x13 twin: evlog + the tail (888000 shift) — the coalesced-manifest
    // read must produce exactly the pre-rewrite rows.
    "x13_manifest_rewrite" -> Oracle.sql(TailBatch.oracleSql(n = 5, maxPart = 2, kShift = 888000L)),
    // x7 twin: evlog + the staged-batch arithmetic — the first 5 rows (by
    // sequence) of partitions 0–1 spawn tail rows at watermark + rank
    // with k = 1000000 + the row's original event id (recovered from the
    // idempotency key, the x5 trick).
    "x7_wap" -> Oracle.sql(TailBatch.oracleSql(n = 5, maxPart = 2, kShift = 1000000L)),
    // v3 twin: x7's shape with the 555000 shift — the streamed sink must
    // hold exactly one copy of the table plus the appended tail.
    "v3_stream_tail" -> Oracle.sql(TailBatch.oracleSql(n = 5, maxPart = 2, kShift = 555000L)),
    // x14 twin: the tag pins the PRE-TAIL snapshot, so the read by ref
    // name equals the plain ingest derivation — no trace of either tail.
    "x14_tag_travel" -> Oracle.sql(
      """SELECT part_id, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       max(sequence) AS max_seq
        |FROM evlog GROUP BY 1""".stripMargin)
  )
}

/** One deleted-from table per (JVM, sfDir): full ingest (into several
  * files so the delete provably rewrites SOME files and leaves others
  * untouched), then one copy-on-write deleteWhere pass over
  * [[TailBatch.kLessEvery13th]]'s rows, so the oracle gates SQL DELETE's
  * three-valued semantics. */
object DeletedTables {
  private val memo = new FileMemo[String]

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root = tmp("graft-delete-")
      EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(16),
        mapLog = TailBatch.kLessEvery13th)
      val res = EventTable.deleteWhere(spark, root,
        expr("cast(get_json_object(cast(payload as string), '$.k') as int) % 7 = 0"))
      require(res.deletedRows > 0, "delete fixture must remove rows")
      root
    }
}

/** One merge-on-read-deleted table per (JVM, sfDir): the x4 ingest shape
  * (fragmented, every 13th event's payload k-less so NULL-predicate
  * semantics are genuinely gated), then TWO positional-delete passes with
  * NO data-file rewrite. The fixture asserts what the oracle cannot see:
  * the data-file set is byte-identical before and after (merge-on-read's
  * whole point), exactly two delete files are active, and the masked-row
  * accounting is exact across the passes. */
object MorDeletedTables {
  private val memo = new FileMemo[String]

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root = tmp("graft-mor-")
      EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(16),
        mapLog = TailBatch.kLessEvery13th)
      val committer = new IcebergCommitter(TableIO.forRoot(root), EventTable.Topic)
      val before    = EventTable.readCommitted(spark, root).count()
      val filesBefore = committer.activeDataFiles().map(f => f.filePath -> f.fileSizeInBytes).toSet
      val r1 = EventTable.deleteWhereMor(spark, root,
        expr("cast(get_json_object(cast(payload as string), '$.k') as bigint) % 9 = 0"))
      require(r1.deletedRows > 0, "MoR pass 1 must mask rows")
      val r2 = EventTable.deleteWhereMor(spark, root, expr("sequence % 500 = 3"))
      require(r2.deletedRows > 0, "MoR pass 2 must mask rows")
      require(committer.activeDataFiles().map(f => f.filePath -> f.fileSizeInBytes).toSet == filesBefore,
        "merge-on-read must leave every data file byte-identical")
      require(committer.activeDeleteFiles().size == 2,
        s"expected one delete file per pass, got ${committer.activeDeleteFiles().size}")
      require(EventTable.readCommitted(spark, root).count() == before - r1.deletedRows - r2.deletedRows,
        "the MoR read must mask exactly the delete files' rows")
      root
    }
}

/** One equality-deleted table per (JVM, sfDir): the x8 ingest shape, a
  * positional pass (k % 9), then an EQUALITY pass deleting every 17th
  * original event by its (partition, sequence) key — derived from the
  * LIVE (post-pass-1) rows, so the two passes are disjoint and the row
  * accounting is exact. Asserts both delete KINDS are active at once and
  * no data file changed. */
object EqDeletedTables {
  private val memo = new FileMemo[String]

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root = tmp("graft-eqdel-")
      EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(16),
        mapLog = TailBatch.kLessEvery13th)
      val committer = new IcebergCommitter(TableIO.forRoot(root), EventTable.Topic)
      val before    = EventTable.readCommitted(spark, root).count()
      val filesBefore = committer.activeDataFiles().map(f => f.filePath -> f.fileSizeInBytes).toSet
      val r1 = EventTable.deleteWhereMor(spark, root,
        expr("cast(get_json_object(cast(payload as string), '$.k') as bigint) % 9 = 0"))
      require(r1.deletedRows > 0, "positional pass must mask rows")
      val keys = EventTable.readCommitted(spark, root)
        .filter(expr("cast(substring(idempotency_key, 2) as bigint) % 17 = 0"))
        .select(col("partition"), col("sequence"))
      val r2 = EventTable.deleteWhereEq(spark, root, keys)
      require(r2.keys > 0, "equality pass must tombstone keys")
      require(committer.activeDataFiles().map(f => f.filePath -> f.fileSizeInBytes).toSet == filesBefore,
        "merge-on-read must leave every data file byte-identical")
      require(committer.activeDeleteFiles().map(_.content).toSet == Set(1, 2),
        "both delete kinds must be active at once")
      require(EventTable.readCommitted(spark, root).count() == before - r1.deletedRows - r2.keys,
        "the MoR read must apply both delete kinds exactly")
      root
    }
}

/** The pieces the table fixtures below share, each defined ONCE so a fix
  * can never apply to one fixture and not the others. [[of]] is the
  * tail-batch builder for the x6/x7/v3 fixtures: the first `n` rows (by
  * sequence) of each partition below `maxPart` spawn rows at watermark +
  * rank, payload `{"k": kShift + original event id}` (or the constant
  * 999999 when `kShift` is None — x6's poison, whose arithmetic never
  * reaches an oracle), idempotency key `<prefix><evid>`. */
object TailBatch {
  /** The x4/x8/tt3/w8 ingest `mapLog`: every 13th event's payload is
    * rewritten to `{"nk": …}` — NO `$.k` key — so a `$.k` predicate
    * evaluates NULL on real rows and the oracle genuinely gates SQL's
    * three-valued semantics (NULL-predicate rows must SURVIVE a delete). */
  val kLessEvery13th: DataFrame => DataFrame = _.withColumn("props",
    when(expr("event_id % 13 = 0"),
         concat(lit("{\"nk\": "), expr("get_json_object(props, '$.k')"), lit("}")))
      .otherwise(col("props")))

  /** One checkpointed AvailableNow run of `stream` (a graft streaming
    * read) into `$sink/data`, under the nio checkpoint file manager; the
    * session's own setting is restored after. A second run resumes the
    * checkpoint at `$sink/_cp`, so only commits since the last run land. */
  def drain(spark: SparkSession, sink: String)(stream: => DataFrame): Unit = {
    val cfm  = "spark.sql.streaming.checkpointFileManagerClass"
    val prev = spark.conf.getOption(cfm)
    spark.conf.set(cfm, classOf[graft.streaming.NioCheckpointFileManager].getName)
    try stream.writeStream.format("parquet")
      .option("path", s"$sink/data")
      .option("checkpointLocation", s"$sink/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    finally prev match {
      case Some(v) => spark.conf.set(cfm, v)
      case None    => spark.conf.unset(cfm)
    }
  }

  def of(committed: DataFrame, n: Int, maxPart: Int,
         kShift: Option[Long], prefix: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val evid = expr("cast(substring(idempotency_key, 2) as bigint)")
    val kCol = kShift.map(sh => (evid + sh).cast("string")).getOrElse(lit("999999"))
    committed.filter(col("partition").cast("int") < maxPart)
      .join(committed.groupBy("partition").agg(max("sequence").as("_wm")), "partition")
      .withColumn("_rn", row_number().over(
        Window.partitionBy("partition").orderBy("sequence")).cast("long"))
      .filter(col("_rn") <= n)
      .select(col("partition"), (col("_wm") + col("_rn")).as("sequence"),
              col("timestamp_ms"),
              concat(lit("{\"k\": "), kCol, lit("}")).cast("binary").as("payload"),
              concat(lit(prefix), evid.cast("string")).as("idempotency_key"))
  }

  /** DuckDB twin of [[of]] + the table union: evlog plus the tail rows,
    * rolled up per partition — the shared x7/v3 oracle body. */
  def oracleSql(n: Int, maxPart: Int, kShift: Long): String =
    s""", wm AS (SELECT part_id, max(sequence) AS wm FROM evlog GROUP BY 1),
       |st AS (
       |  SELECT part_id, wm + rn AS sequence, $kShift + evid AS k
       |  FROM (
       |    SELECT e.part_id, wm.wm,
       |           CAST(substring(e.idempotency_key, 2) AS BIGINT) AS evid,
       |           row_number() OVER (PARTITION BY e.part_id ORDER BY e.sequence) AS rn
       |    FROM evlog e JOIN wm ON wm.part_id = e.part_id
       |    WHERE e.part_id < $maxPart)
       |  WHERE rn <= $n
       |), merged AS (
       |  SELECT part_id, sequence, CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k FROM evlog
       |  UNION ALL SELECT part_id, sequence, k FROM st
       |)
       |SELECT part_id, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k, max(sequence) AS max_seq
       |FROM merged GROUP BY 1""".stripMargin
}

/** One merged-into table per (JVM, sfDir): full fragmented ingest, then one
  * copy-on-write mergeUpsert whose batch is derived deterministically from
  * the committed table itself — every 11th ORIGINAL event (id recovered
  * from the idempotency key, so retry-surviving rows resolve to the
  * retried event) in partitions 0–3 gets payload k+100000 (matched
  * updates); every 101st
  * spawns a tail insert at watermark + rank with k = -id and a fresh
  * 'm<id>' idempotency key. Both merge arms and the untouched-file
  * invariant are enforced here so the oracle genuinely gates them. */
object MergedTables {
  private val memo = new FileMemo[String]

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      import org.apache.spark.sql.expressions.Window
      val root = tmp("graft-merge-")
      EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(16))
      val committed = EventTable.readCommitted(spark, root)
      val evid = expr("cast(substring(idempotency_key, 2) as bigint)")
      val k    = expr("cast(get_json_object(cast(payload as string), '$.k') as bigint)")
      // updates confined to partitions 0–3 so partitions 4–7's original
      // files provably survive the merge untouched (1-in-11 density blankets
      // every sequence bucket of a touched partition at any fragmentation)
      val updates = committed.filter(evid % 11 === 0 && col("partition").cast("int") < 4)
        .select(col("partition"), col("sequence"), col("timestamp_ms"),
                concat(lit("{\"k\": "), (k + 100000).cast("string"), lit("}")).cast("binary").as("payload"),
                col("idempotency_key"))
      val wmDf = committed.groupBy("partition").agg(max("sequence").as("_wm"))
      val inserts = committed.filter(evid % 101 === 0)
        .join(wmDf, "partition")
        .withColumn("_rn", row_number().over(Window.partitionBy("partition").orderBy("sequence")).cast("long"))
        .select(col("partition"), (col("_wm") + col("_rn")).as("sequence"),
                (col("timestamp_ms") + 86400000L).as("timestamp_ms"),
                concat(lit("{\"k\": "), (-evid).cast("string"), lit("}")).cast("binary").as("payload"),
                concat(lit("m"), evid.cast("string")).as("idempotency_key"))
      val res = EventTable.mergeUpsert(spark, root, updates.unionByName(inserts))
      require(res.updatedRows > 0 && res.insertedRows > 0,
        s"merge fixture must exercise both arms: $res")
      require(res.untouchedFiles > 0, s"merge must leave unmatched files untouched: $res")
      root
    }
}

/** One rolled-back table per (JVM, sfDir): full ingest, then a poison
  * append (10 junk rows per partition past its watermark, k=999999),
  * then `rollbackTo` the pre-append snapshot. The fixture asserts the
  * poison was visible before the rollback and the snapshot log grew, so
  * the oracle (plain ingest derivation) genuinely gates the undo. */
object RolledBackTables {
  private val memo = new FileMemo[String]

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root      = tmp("graft-rollback-")
      val committer = EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(8))
      val base      = committer.load().get.currentSnapshotId.get
      val nRows     = EventTable.readCommitted(spark, root).count()
      val junk = TailBatch.of(EventTable.readCommitted(spark, root),
                              n = 10, maxPart = 8, kShift = None, prefix = "j")
      EventTable.appendBatch(spark, root, junk)
      require(EventTable.readCommitted(spark, root).count() > nRows,
        "the poison append must be visible before the rollback")
      committer.rollbackTo(base)
      require(committer.load().get.currentSnapshotId.contains(base), "rollback must re-point current")
      require(EventTable.readCommitted(spark, root).count() == nRows,
        "the rolled-back read must no longer see the poison rows")
      root
    }
}

/** One expired-history table per (JVM, sfDir): ingest (snap1), tail append
  * A (snap2, k = 777000 + original event id), tail append B (snap3,
  * k = 778000 + evid), then `expireSnapshots(keepLast = 2)` — exactly the
  * ingest-only snap1 expires. The fixture asserts the mechanics the oracle
  * cannot see: the expired id is snap1 alone, time travel to it now FAILS
  * LOUD ("unknown snapshot", never an empty frame), the current read keeps
  * both tails, and the retained middle snapshot still reads — i.e. the
  * physical GC deleted nothing a retained snapshot references. x11 then
  * time-travels to snap2, which the oracle derives as evlog + tail A. */
object ExpiredTables {
  private val memo = new FileMemo[(String, Long)]

  def tableRootAndMid(spark: SparkSession, sfDir: String): (String, Long) =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root      = tmp("graft-expire-")
      val committer = EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(8))
      val snap1     = committer.load().get.currentSnapshotId.get
      val a = TailBatch.of(EventTable.readCommitted(spark, root),
                           n = 5, maxPart = 2, kShift = Some(777000L), prefix = "e")
      val mid = EventTable.appendBatch(spark, root, a).snapshotId
      val b = TailBatch.of(EventTable.readCommitted(spark, root),
                           n = 5, maxPart = 2, kShift = Some(778000L), prefix = "f")
      EventTable.appendBatch(spark, root, b)
      val nAll = EventTable.readCommitted(spark, root).count()
      val expired = committer.expireSnapshots(keepLast = 2)
      require(expired == Seq(snap1), s"expected exactly snap1 to expire, got $expired")
      val loud =
        try { EventTable.readCommitted(spark, root, atSnapshot = Some(snap1)).count(); false }
        catch { case _: IllegalArgumentException => true }
      require(loud, "time travel to an expired snapshot must fail loud, not read empty")
      require(EventTable.readCommitted(spark, root).count() == nAll,
        "expiry must not change the current read")
      (root, mid)
    }
}

/** One spec-evolved table per (JVM, sfDir): ingest under spec-0 (identity
  * partition dirs), `evolvePartitionSpec` to spec-1 (partition +
  * event_date), then a tail append (5 rows per partition 0–1,
  * k = 999000 + evid, source timestamps kept) written under the NEW
  * layout. The fixture asserts the mechanics the oracle cannot see: every
  * post-evolution file nests under `event_date=`, every pre-evolution file
  * stays flat, BOTH spec ids live in the manifest list, and the evolved
  * files carry path-derived event_date identity bounds (single-date
  * files). x12 then hash-gates a manifest-pruned mixed-spec read. */
object SpecEvolvedTables {
  private val memo = new FileMemo[String]

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root      = tmp("graft-spec-")
      val committer = EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(8))
      val oldFiles  = committer.activeDataFiles().map(_.filePath).toSet
      require(committer.evolvePartitionSpec(graft.iceberg.PartitionSpec.dateFields),
        "the evolution must commit a new default spec")
      val batch = TailBatch.of(EventTable.readCommitted(spark, root),
                               n = 5, maxPart = 2, kShift = Some(999000L), prefix = "s")
      EventTable.appendBatch(spark, root, batch)
      val newFiles = committer.activeDataFiles().map(_.filePath).toSet -- oldFiles
      require(newFiles.nonEmpty && newFiles.forall(_.contains("/event_date=")),
        s"post-evolution files must carry event_date dirs: $newFiles")
      require(oldFiles.forall(p => !p.contains("/event_date=")),
        "pre-evolution files must keep their spec-0 layout")
      require(committer.currentManifests().map(_.partitionSpecId).toSet == Set(0, 1),
        "both specs must be live in the manifest list")
      // evolved files are single-date with path-derived identity bounds
      val dated = committer.activeDataFiles().filter(f => newFiles(f.filePath))
      require(dated.forall(f =>
        f.lowerInt(FieldIds.EventDate).isDefined &&
          f.lowerInt(FieldIds.EventDate) == f.upperInt(FieldIds.EventDate)),
        "evolved files must carry single-date identity bounds for pruning")
      root
    }
}

/** One changefeed fixture per (JVM, sfDir): the x8 ingest shape (every
  * 13th event's payload k-less — NULL-predicate rows must survive the
  * delete pass in the FEED too), then a tail append (5 rows per partition
  * 0–1, k = 444000 + evid), a positional MoR delete (k % 9 = 0 over base ∪
  * tail), and an equality MoR delete (every 17th original event among the
  * LIVE rows). tt3 reads the changefeed base → head. The fixture asserts
  * the feed's internal accounting (insert count = 10, delete count = both
  * passes' masked totals) so the oracle's rollup genuinely gates the
  * reconstruction, not just the fixture arithmetic. */
object ChangefeedTables {
  private val memo = new FileMemo[(String, Long)]

  def rootAndBase(spark: SparkSession, sfDir: String): (String, Long) =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root = tmp("graft-feed-")
      val committer = EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(16),
        mapLog = TailBatch.kLessEvery13th)
      val base = committer.load().get.currentSnapshotId.get
      val batch = TailBatch.of(EventTable.readCommitted(spark, root),
                               n = 5, maxPart = 2, kShift = Some(444000L), prefix = "c")
      EventTable.appendBatch(spark, root, batch)
      val r1 = EventTable.deleteWhereMor(spark, root,
        expr("cast(get_json_object(cast(payload as string), '$.k') as bigint) % 9 = 0"))
      require(r1.deletedRows > 0, "positional pass must mask rows")
      val keys = EventTable.readCommitted(spark, root)
        .filter(expr("cast(substring(idempotency_key, 2) as bigint) % 17 = 0"))
        .select(col("partition"), col("sequence"))
      val r2 = EventTable.deleteWhereEq(spark, root, keys)
      require(r2.keys > 0, "equality pass must tombstone keys")
      val head = committer.load().get.currentSnapshotId.get
      val feed = EventTable.changesBetween(spark, root, base, head)
        .groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(feed.getOrElse("insert", 0L) == 10L,
        s"feed must reconstruct exactly the 10 appended rows: $feed")
      require(feed.getOrElse("delete", 0L) == r1.deletedRows + r2.keys,
        s"feed must reconstruct both delete passes exactly: $feed vs ${r1.deletedRows} + ${r2.keys}")
      (root, base)
    }
}

/** One manifest-rewritten table per (JVM, sfDir): ingest (snap1), tail
  * append (snap2, k = 888000 + original event id) — two manifests in the
  * carry-forward list — then `rewriteManifests()` coalesces them. The
  * fixture asserts everything the row-level oracle cannot: the list shrank
  * to ONE data manifest, the active file set (paths + sizes) and summary
  * totals are identical, per-file DATA SEQUENCE NUMBERS survived the
  * coalesce (ingest files 1, tail files 2 — the equality-delete scoping
  * input), a pre-rewrite snapshot still time-travels, and an incremental
  * append scan may cross the rewrite. */
object RewrittenTables {
  private val memo = new FileMemo[String]

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root      = tmp("graft-rewrite-")
      val committer = EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(8))
      val snap1     = committer.load().get.currentSnapshotId.get
      val batch = TailBatch.of(EventTable.readCommitted(spark, root),
                               n = 5, maxPart = 2, kShift = Some(888000L), prefix = "g")
      EventTable.appendBatch(spark, root, batch)
      val filesBefore = committer.activeDataFiles().map(f => f.filePath -> f.fileSizeInBytes).toSet
      val seqsBefore  = committer.activeFilesWithSeq(0).map { case (f, sq) => f.filePath -> sq }.toMap
      val totalsBefore = committer.load().get.currentSnapshot.get.summary
        .view.filterKeys(Set("total-records", "total-data-files")).toMap
      require(committer.currentManifests().size == 2, "fixture expects two pre-rewrite manifests")
      val res = committer.rewriteManifests()
      require(res.isDefined, "the two-manifest list must coalesce")
      require(committer.currentManifests().size == 1, "rewrite must produce ONE data manifest")
      require(committer.activeDataFiles().map(f => f.filePath -> f.fileSizeInBytes).toSet == filesBefore,
        "a manifest rewrite must not change file identity")
      require(committer.activeFilesWithSeq(0).map { case (f, sq) => f.filePath -> sq }.toMap == seqsBefore,
        "per-file data sequence numbers must survive the coalesce")
      val totalsAfter = committer.load().get.currentSnapshot.get.summary
        .view.filterKeys(Set("total-records", "total-data-files")).toMap
      require(totalsAfter == totalsBefore, s"totals drifted: $totalsBefore -> $totalsAfter")
      require(committer.activeDataFilesAt(snap1).nonEmpty,
        "pre-rewrite snapshots must still time-travel")
      require(committer.appendsSince(snap1).nonEmpty,
        "an incremental append scan must cross a manifest rewrite")
      root
    }
}

/** One TAGGED table per (JVM, sfDir): ingest (base), `createTag("pre-tail",
  * base)`, two tail appends, then `expireSnapshots(keepLast = 1)` — which
  * expires the untagged MIDDLE snapshot while the TAGGED base is retained
  * unconditionally (the expire-protection contract). The fixture asserts
  * the metadata mechanics the row oracle cannot: the refs map carries the
  * user tag next to the derived `main`, derived/duplicate names refuse,
  * the middle snapshot really expired, and the tag's target still
  * time-travels. x14 then reads `versionAsOf = 'pre-tail'` through the V2
  * source — the oracle is the PLAIN ingest derivation, so a tag resolving
  * to the wrong snapshot (or a tagged state damaged by the expiry's
  * physical GC) breaks the hash. */
object TaggedTables {
  private val memo = new FileMemo[String]

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root      = tmp("graft-tagged-")
      val committer = EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(8))
      val base      = committer.load().get.currentSnapshotId.get
      committer.createTag("pre-tail", base)
      val b1 = TailBatch.of(EventTable.readCommitted(spark, root),
                            n = 5, maxPart = 2, kShift = Some(666000L), prefix = "t1")
      EventTable.appendBatch(spark, root, b1)
      val mid = committer.load().get.currentSnapshotId.get
      val b2 = TailBatch.of(EventTable.readCommitted(spark, root),
                            n = 5, maxPart = 2, kShift = Some(667000L), prefix = "t2")
      EventTable.appendBatch(spark, root, b2)
      val meta = committer.load().get
      require(meta.refs.get("pre-tail").exists(r => r.snapshotId == base && r.refType == "tag"),
        s"the user tag must ride the refs map: ${meta.refs}")
      require(meta.refs.get("main").exists(_.snapshotId == meta.currentSnapshotId.get),
        "derived main must keep tracking the head")
      require(committer.resolveVersionOf(meta, "main") == meta.currentSnapshotId.get)
      require(scala.util.Try(committer.createTag("main", base)).isFailure,
        "derived names must refuse")
      require(scala.util.Try(committer.createTag("pre-tail", mid)).isFailure,
        "duplicate names must refuse")
      // expire: the untagged middle snapshot goes; the tagged base stays
      val expired = committer.expireSnapshots(keepLast = 1)
      require(expired == Seq(mid), s"only the untagged middle snapshot may expire: $expired")
      require(committer.activeDataFilesAt(base).nonEmpty,
        "the tagged snapshot must survive expiry and still time-travel")
      root
    }
}

/** One TAILED table per (JVM, sfDir): ingest, then the committed table is
  * consumed AS A STREAM (`readStream.format("graft")` — the V2 source's
  * MicroBatchStream, snapshot-id offsets) into a parquet sink; a batch of
  * tail rows lands (5 per partition 0–1, k = 555000 + original event id);
  * the SAME checkpointed stream runs again. The second run must read
  * EXACTLY the appended files — a broken offset diff either re-reads the
  * table (duplicates the sink) or misses the tail, and both the fixture
  * require and the oracle sum catch it. A third run resumes after a full
  * `Maintenance.vacuum` and must emit NOTHING (the tail crosses the
  * compaction's data-preserving replaces), so v3's oracle row also gates
  * tail survival across the maintenance clock. */
object TailedTables {
  private val memo = new FileMemo[String]

  def sinkDir(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root = tmp("graft-tail-")
      EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(8))
      val sink = tmp("graft-tailsink-")
      def run(): Unit =
        TailBatch.drain(spark, sink)(spark.readStream.format(classOf[GraftDataSource].getName).load(root))
      run()
      val n1 = spark.read.parquet(s"$sink/data").count()
      val batch = TailBatch.of(EventTable.readCommitted(spark, root),
                               n = 5, maxPart = 2, kShift = Some(555000L), prefix = "v")
      EventTable.appendBatch(spark, root, batch)
      run()
      val n2 = spark.read.parquet(s"$sink/data").count()
      require(n2 == n1 + 10,
        s"the resumed tail must read exactly the appended rows: $n1 -> $n2")
      // run 3, AFTER a full vacuum: the compaction's data-preserving
      // replaces (every merged file already consumed) must be crossed
      // emitting NOTHING — v3's oracle row now also gates tail
      // survival across the maintenance clock
      val vr = Maintenance.vacuum(spark, root, keepSnapshots = 64)
      require(vr.compactions > 0, "the vacuum must compact (replace commits in range)")
      run()
      val n3 = spark.read.parquet(s"$sink/data").count()
      require(n3 == n2, s"a checkpointed tail must cross a vacuum emitting nothing: $n2 -> $n3")
      s"$sink/data"
    }
}

/** One STREAMED-changefeed sink per (JVM, sfDir): the ChangefeedTables
  * fixture shape (x8 ingest with k-less 13th events, 444000-shifted tail,
  * positional k%9 pass, every-17th equality pass) consumed through the
  * streaming CDC source in TWO checkpointed AvailableNow runs:
  *
  *  - run 1 starts from the ingest snapshot (`fromSnapshot`) and covers
  *    the tail append + positional delete commits;
  *  - run 2 resumes the SAME checkpoint after the equality pass and must
  *    emit exactly that pass's delete rows — a broken snapshot-id offset
  *    either re-emits run 1's changes (duplicates) or misses the new
  *    commit, and the fixture's per-run counts pin both;
  *  - run 3 resumes after a FULL `Maintenance.vacuum` (compaction folding
  *    both delete passes + manifest rewrite + expire) and must emit
  *    NOTHING — the feed crosses the data-preserving replaces, so the
  *    oracle row also gates consumer survival across the maintenance
  *    clock.
  *
  * The accumulated sink is then hash-gated against the SAME oracle as the
  * batch feed (tt3) — streamed and batch reconstruction must agree. */
object StreamedChangefeedTables {
  private val memo = new FileMemo[String]

  def sinkDir(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root = tmp("graft-w8-")
      val committer = EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(16),
        mapLog = TailBatch.kLessEvery13th)
      val base = committer.load().get.currentSnapshotId.get
      val sink = tmp("graft-w8sink-")
      def run(): Unit = TailBatch.drain(spark, sink)(spark.readStream.format(classOf[GraftDataSource].getName)
        .option("changefeed", "true").option("fromSnapshot", base.toString).load(root))
      val batch = TailBatch.of(EventTable.readCommitted(spark, root),
                               n = 5, maxPart = 2, kShift = Some(444000L), prefix = "c")
      EventTable.appendBatch(spark, root, batch)
      val r1 = EventTable.deleteWhereMor(spark, root,
        expr("cast(get_json_object(cast(payload as string), '$.k') as bigint) % 9 = 0"))
      require(r1.deletedRows > 0, "positional pass must mask rows")
      run()
      val after1 = spark.read.parquet(s"$sink/data")
      val n1     = after1.count()
      require(after1.filter(col("_change_type") === "insert").count() == 10L,
        "run 1 must reconstruct exactly the 10 appended rows as inserts")
      require(after1.filter(col("_change_type") === "delete").count() == r1.deletedRows,
        "run 1 must reconstruct exactly the positional pass's deletes")
      val keys = EventTable.readCommitted(spark, root)
        .filter(expr("cast(substring(idempotency_key, 2) as bigint) % 17 = 0"))
        .select(col("partition"), col("sequence"))
      val r2 = EventTable.deleteWhereEq(spark, root, keys)
      require(r2.keys > 0, "equality pass must tombstone keys")
      run()
      val n2 = spark.read.parquet(s"$sink/data").count()
      require(n2 == n1 + r2.keys,
        s"the resumed feed must emit exactly the equality pass's deletes: $n1 -> $n2 (+${r2.keys})")
      // run 3, AFTER a full vacuum (compaction folding both delete
      // passes + manifest rewrite + expire): the data-preserving
      // replaces must be crossed emitting NOTHING — the oracle row
      // that gates this sink now also gates consumer survival across
      // the maintenance clock. Retention stays wide so the
      // checkpointed range never crosses expired history.
      val vr = Maintenance.vacuum(spark, root,
        Compaction.Config(deleteRatioTrigger = 0.01, maxFilesPerRun = 10000),
        keepSnapshots = 64)
      require(vr.compactions > 0, "the vacuum must fold (replace commits in range)")
      run()
      val n3 = spark.read.parquet(s"$sink/data").count()
      require(n3 == n2,
        s"a checkpointed feed must cross a vacuum emitting nothing: $n2 -> $n3")
      s"$sink/data"
    }
}

/** One write-audit-publish table per (JVM, sfDir): full ingest, then a
  * STAGED append of 5 tail rows per partition 0–1 (k = 1000000 + the
  * source row's original event id), audited invisible, then published.
  * Both the invisibility window and the post-publish visibility are
  * asserted here so the oracle genuinely gates the pointer mechanics. */
object StagedTables {
  private val memo = new FileMemo[String]

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root      = tmp("graft-wap-")
      val committer = EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(8))
      val nRows     = EventTable.readCommitted(spark, root).count()
      val batch = TailBatch.of(EventTable.readCommitted(spark, root),
                               n = 5, maxPart = 2, kShift = Some(1000000L), prefix = "w")
      val staged = EventTable.appendBatch(spark, root, batch, staged = true)
      require(EventTable.readCommitted(spark, root).count() == nRows,
        "a staged snapshot must be invisible to readers until publish")
      require(committer.activeDataFilesAt(staged.snapshotId).nonEmpty,
        "the staged snapshot must be fully formed for the audit read")
      committer.publish(staged.snapshotId)
      require(EventTable.readCommitted(spark, root).count() == nRows + 10,
        "publish must fast-forward readers onto the staged rows")
      root
    }
}

/** Fragmented-then-compacted table per (JVM, sfDir) for compaction queries.
  * Ingests into ~32 deliberately small files (≥3 per partition dir at every
  * sf), then compacts with the REFERENCE defaults (<64 MB candidates,
  * ≥3 files/group, ≤10 files/run, the reference's `src/storage/compaction.rs:25-34`)
  * repeatedly — each run is one replace-snapshot, like repeated POSTs to the
  * reference's compact endpoint. */
object CompactedTables {
  private val memo = new FileMemo[String]

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root = tmp("graft-compact-")
      EventTable.ingestAndCommit(spark, sfDir, root, fragmentInto = Some(32))
      while (Compaction.compact(spark, root).isDefined) ()
      root
    }
}
