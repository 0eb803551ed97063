package graft.table

import graft.iceberg._
import org.apache.spark.sql.SparkSession
import java.nio.file.Paths

/** Compaction — the one rewrite operator (SURVEY §2.4).
  *
  * Reference behaviors matched:
  *  - C1 candidate selection: active files from the current snapshot, grouped
  *    by partition dir; keep files under `maxCandidateSize`; keep groups with
  *    at least `minFilesPerGroup` (and never fewer than 2); cap
  *    `maxFilesPerRun` per run
  *    (`/root/reference/src/storage/compaction.rs:25-34,139-171`)
  *  - C2 merge-rewrite: read candidates, re-sort, re-slice toward
  *    `targetFileSize` into the same partition dirs
  *    (`/root/reference/src/storage/compaction.rs:174-279`)
  *  - C3 replace-snapshot commit with CAS on the expected base snapshot;
  *    old files deleted only after a successful commit; new files cleaned up
  *    on failure (`/root/reference/src/storage/iceberg_storage.rs:1165-1308`)
  *
  * Spark-first: the rewrite is one `spark.read.parquet(candidates)` →
  * repartition-by-layout → sorted write — a distributed job, while selection
  * and the commit are driver-side metadata only. C4: structured-schema tables
  * compact uniformly here (the schema travels with the DataFrame), lifting
  * the reference's restriction (`compaction.rs:283-288`).
  */
object Compaction {
  /** `deleteReplacedFiles = true` mirrors the reference (old S3 objects are
    * deleted right after the replace commit, `iceberg_storage.rs:1165-1308`)
    * — which makes PRE-compaction snapshots unreadable for time travel.
    * Set false to defer physical deletion to
    * [[graft.iceberg.IcebergCommitter.expireSnapshots]] (the Iceberg-native
    * GC point) and keep full history readable. */
  /** `deleteRatioTrigger`: a data file whose ACTIVE merge-on-read tombstone
    * rows reach this fraction of its recordCount is a candidate regardless
    * of size or group — the relief valve for the V2 scan's mask cap: a
    * large file that is mostly tombstones would otherwise never be
    * selected, and its delete files would ride every read forever. */
  final case class Config(
      maxCandidateSize: Long = 64L * 1024 * 1024,
      minFilesPerGroup: Int = 3,
      maxFilesPerRun: Int = 10,
      targetFileSize: Long = 512L * 1024 * 1024,
      deleteReplacedFiles: Boolean = true,
      deleteRatioTrigger: Double = 0.3
  )

  private def dirOf(f: DataFile): String = {
    val i = f.filePath.lastIndexOf('/')
    if (i < 0) "" else f.filePath.substring(0, i)
  }

  /** The smallest group the size rules take: a lone file rewrites into one
    * file in the same dir, which would be a candidate again forever. */
  private def minGroup(cfg: Config): Int = math.max(2, cfg.minFilesPerGroup)

  /** C1: whole partition-dir groups of small files, capped per run. */
  def selectCandidates(active: Seq[DataFile], cfg: Config): Seq[DataFile] = {
    val groups = active
      .filter(_.fileSizeInBytes < cfg.maxCandidateSize)
      .groupBy(dirOf)
      .toSeq
      .filter(_._2.size >= minGroup(cfg))
      .sortBy(_._1)
    var budget = cfg.maxFilesPerRun
    groups.flatMap { case (_, fs) =>
      if (fs.size <= budget) { budget -= fs.size; fs }
      else Nil
    }
  }

  /** C1 as metadata-DataFrame aggregation — same selection as
    * [[selectCandidates]], but the per-file work (size filter, dir
    * grouping) runs as a Spark job. The driver sees only O(partition dirs)
    * group counts for the greedy budget walk, then the chosen groups'
    * paths (≤ `maxFilesPerRun`) — never an all-files aggregation of its
    * own. [[compact]] uses this path, so candidate selection stays flat as
    * the file count grows toward the ~800k files of a 100 TB table. */
  /** Below this many active files the driver fold is strictly cheaper than
    * two Spark jobs (compaction holds the per-table lock while selecting —
    * don't stretch it for a 10-file table). */
  val DistributedSelectionThreshold = 10000

  def selectCandidatesDistributed(spark: SparkSession, active: Seq[DataFile], cfg: Config,
                                  threshold: Int = DistributedSelectionThreshold): Seq[DataFile] = {
    if (active.size < threshold) return selectCandidates(active, cfg)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val byPath = active.iterator.map(f => f.filePath -> f).toMap
    val files = spark.createDataset(active.map(f => (f.filePath, f.fileSizeInBytes)))
      .toDF("path", "bytes")
      .filter(col("bytes") < cfg.maxCandidateSize)
      // dirOf as an expression: everything before the last '/', "" if none
      .withColumn("dir", when(instr($"path", "/") === 0, lit(""))
        .otherwise(regexp_replace($"path", "/[^/]*$", "")))
    files.cache()
    try {
      // job 1: group counts only (O(dirs) rows to the driver)
      val groupCounts = files.groupBy("dir").agg(count(lit(1)).as("n"))
        .filter(col("n") >= minGroup(cfg))
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      var budget = cfg.maxFilesPerRun.toLong
      val chosen = groupCounts.collect {
        case (dir, n) if n <= budget => budget -= n; dir
      }
      if (chosen.isEmpty) return Nil
      // job 2: only the chosen groups' paths (≤ maxFilesPerRun rows)
      files.filter(col("dir").isin(chosen.toSeq: _*))
        .select("dir", "path").collect()
        .sortBy(r => (r.getString(0), byPath(r.getString(1)).filePath))
        .map(r => byPath(r.getString(1))).toSeq
    } finally { files.unpersist(); () }
  }

  /** C2+C3: rewrite the candidate files and atomically replace them in a new
    * snapshot. Throws [[CommitConflict]] if the table advanced past
    * `expectedBase` between selection and commit. */
  def compact(spark: SparkSession, tableRoot: String, cfg: Config = Config(),
              beforeCommit: () => Unit = () => (),
              afterCommit: () => Unit = () => ()): Option[CommitResult] = {
    EventTable.sweepStaging(tableRoot) // GC dirs left by crashed writes
    val committer = new IcebergCommitter(TableIO.forRoot(tableRoot), EventTable.Topic)
    val meta      = committer.load().getOrElse(return None)
    val base      = meta.currentSnapshotId.getOrElse(return None)

    val active        = committer.activeDataFiles()
    val activeDeletes = committer.activeDeleteFiles()
    import org.apache.spark.sql.functions.expr

    // ONE read of all position-delete files feeds BOTH decisions below:
    // (delete file -> referenced data keys) for the fold, and
    // (data key -> masked row count) for the ratio trigger. Distinct
    // (delete file, data file) groups are file-count-sized; the collect is
    // bounded decision values.
    val posFiles = activeDeletes.filter(_.content == 1)
    val posStats: Seq[(String, String, Long)] = // (delete path, data key, rows)
      if (posFiles.isEmpty) Nil
      else {
        val pathByKey = posFiles.map(f => EventTable.morKeyOf(f.filePath) -> f.filePath).toMap
        spark.read.parquet(posFiles.map(f => s"$tableRoot/${f.filePath}"): _*)
          .select(expr(EventTable.morStoredKey).as("ref"),
                  expr("substring_index(_metadata.file_path, '/', -2)").as("src"))
          .groupBy("src", "ref").count().collect()
          .map(r => (pathByKey(r.getString(0)), r.getString(1), r.getLong(2))).toSeq
      }
    val posRefs: Map[String, Seq[String]] =
      posStats.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val posMasked: Map[String, Long] =
      posStats.groupMapReduce(_._2)(_._3)(_ + _)

    // Equality keys grouped (partition, delete-file data sequence) — the
    // trigger counts only keys that APPLY to a file (smaller data sequence,
    // inside its sequence bounds); keys are batch-sized by the MoR
    // contract, so this is a driver fold plus binary searches per file.
    val dataSeqs = committer.activeFilesWithSeq(content = 0)
      .map { case (f, sq) => EventTable.morKeyOf(f.filePath) -> sq }.toMap
    val deleteSeqs = committer.activeFilesWithSeq(content = 2)
      .map { case (f, sq) => f.filePath -> sq }.toMap
    val eqFiles = activeDeletes.filter(_.content == 2)
    val eqByPart: Map[Int, Seq[(Long, Array[Long])]] = // part -> (delSeq, sorted seqs)
      if (eqFiles.isEmpty) Map.empty
      else {
        val pathByKey = eqFiles.map(f => EventTable.morKeyOf(f.filePath) -> f.filePath).toMap
        spark.read.parquet(eqFiles.map(f => s"$tableRoot/${f.filePath}"): _*)
          .selectExpr("cast(partition as int) AS p", "sequence",
                      "substring_index(_metadata.file_path, '/', -2) AS src")
          .collect()
          .groupBy(_.getInt(0))
          .map { case (p, rows) =>
            p -> rows.groupBy(r => deleteSeqs.getOrElse(pathByKey(r.getString(2)), Long.MaxValue))
              .map { case (ds, rs) => (ds, rs.map(_.getLong(1)).distinct.sorted) }.toSeq
          }
      }
    def eqMaskedOf(f: DataFile): Long = {
      if (eqByPart.isEmpty) return 0L
      val p = f.lowerInt(graft.iceberg.FieldIds.Partition).getOrElse(return 0L)
      val lo = f.lowerLong(graft.iceberg.FieldIds.Sequence).getOrElse(Long.MinValue)
      val hi = f.upperLong(graft.iceberg.FieldIds.Sequence).getOrElse(Long.MaxValue)
      val fSeq = dataSeqs.getOrElse(EventTable.morKeyOf(f.filePath), Long.MaxValue)
      eqByPart.getOrElse(p, Nil).collect { case (dSeq, seqs) if fSeq < dSeq =>
        val i = java.util.Arrays.binarySearch(seqs, lo)
        val j = java.util.Arrays.binarySearch(seqs, hi)
        val from = if (i >= 0) i else -i - 1
        val to   = if (j >= 0) j + 1 else -j - 1
        (to - from).toLong
      }.sum
    }

    // Delete-ratio trigger: files whose active tombstones reach the
    // threshold are candidates REGARDLESS of size or group — they ride on
    // top of the size budget, because folding them is what relieves the
    // read-side mask weight. (The positional count may overlap the
    // equality count on doubly-deleted rows — an eager trigger, never a
    // missed one.)
    val deleteHeavy = active.filter { f =>
      f.recordCount > 0 && {
        val masked = posMasked.getOrElse(EventTable.morKeyOf(f.filePath), 0L) + eqMaskedOf(f)
        masked >= cfg.deleteRatioTrigger * f.recordCount
      }
    }
    val heavyPaths = deleteHeavy.map(_.filePath).toSet
    val candidates = deleteHeavy ++
      selectCandidatesDistributed(spark, active, cfg).filterNot(f => heavyPaths(f.filePath))
    if (candidates.isEmpty) return None

    // Merge-on-read fold: the rewrite APPLIES active position deletes (a
    // rewrite that ignored them would renumber positions and resurrect the
    // masked rows in the new files), and delete files whose references are
    // entirely within the rewritten set are REMOVED in the same commit —
    // compaction is how MoR deletes get physically reclaimed. A delete
    // file also referencing untouched files stays active: its entries for
    // rewritten basenames point at now-inactive names and match nothing.
    // the rewrite APPLIES active deletes — the ONE shared anti-join
    // definition (EventTable.applyDeletes): a compaction that diverged
    // from the read path's matching (identity keys, kind routing) would
    // resurrect or over-delete rows
    val df0 = EventTable.readForRewrite(spark, tableRoot, candidates,
      morCols = activeDeletes.exists(_.content == 1))
    val df =
      if (activeDeletes.isEmpty) df0
      else EventTable.applyDeletes(spark, tableRoot, activeDeletes, df0)
    val candidateKeys = candidates.map(f => EventTable.morKeyOf(f.filePath)).toSet
    val activeKeys    = active.map(f => EventTable.morKeyOf(f.filePath)).toSet
    // which delete files this run retires:
    //  - a POSITION file's references block folding only while still LIVE
    //    outside this run's candidates — references an EARLIER rewrite
    //    already replaced are dead (that rewrite applied the deletes), so
    //    a partition-spanning file still folds once the runs have covered
    //    its last live reference
    //  - an EQUALITY file is scoped by DATA SEQUENCE NUMBER (the Iceberg
    //    rule: it applies only to data files that PREDATE it — rewrites
    //    apply it, and later appends cannot resurrect its keys, which
    //    deleteWhereEq pins below the watermark). It folds once no live
    //    non-candidate data file has a smaller sequence number.
    val foldedDeletes = activeDeletes.filter { d =>
      if (d.content == 1)
        posRefs.getOrElse(d.filePath, Nil)
          .forall(k => candidateKeys.contains(k) || !activeKeys.contains(k))
      else {
        val dSeq = deleteSeqs.getOrElse(d.filePath, Long.MaxValue)
        dataSeqs.forall { case (k, sq) => sq >= dSeq || candidateKeys.contains(k) }
      }
    }
    // Same layout + sort invariant as the original segments; re-sliced
    // toward cfg.targetFileSize by the size-aware writer (C2). writeFiles
    // returns EXACTLY the files this job wrote — a concurrent flush's
    // files can neither be adopted into this commit nor deleted by the
    // rollback below.
    val added    = EventTable.writeFiles(df, tableRoot, targetFileSize = cfg.targetFileSize,
                                         dateLayout = EventTable.dateLayoutOf(committer)).map(_._1)
    val newPaths = added.map(_.filePath)

    // Commit-site conservation bracket for the data-preserving stamp: the
    // rewrite applied the active masks, so the written rows must land in
    // [candidateRows − posMasked − eqMasked, candidateRows − max(pos, eq)]…
    // except the mask counts may OVERLAP on doubly-deleted rows and
    // positional counts may double-count across delete files, so only the
    // sound two-sided form is asserted: no row invented (added ≤ removed)
    // and no row lost beyond what the masks can explain (added ≥ removed −
    // posMasked − eqMasked). A violation means the rewrite diverged from
    // the read path's mask semantics — refuse to stamp (and to commit) a
    // replace streams would then silently cross.
    // committed flips IMMEDIATELY after the CAS lands: from that point
    // newPaths are data files of a COMMITTED snapshot, and the orphan
    // rollback below must never touch them — an exception out of the
    // post-commit tail (tag resolution inside tagProtectedPaths, an eager
    // delete refusal) would otherwise delete live table data.
    var committed = false
    try {
      val candidateRows = candidates.map(_.recordCount).sum
      val addedRows     = added.map(_.recordCount).sum
      val maskedRows    = candidates.map { f =>
        posMasked.getOrElse(EventTable.morKeyOf(f.filePath), 0L) + eqMaskedOf(f)
      }.sum
      require(addedRows <= candidateRows && addedRows >= candidateRows - maskedRows,
        s"compaction rewrite of ${candidates.size} files is not row-conserving: " +
          s"$candidateRows rows in, $addedRows out, masks explain at most $maskedRows — " +
          "refusing the data-preserving replace commit")
      beforeCommit() // test hook: interleave a concurrent commit
      val res = committer.commitReplace(candidates, added, base, removedDeletes = foldedDeletes,
                                        dataPreserving = true)
      committed = true
      afterCommit() // test hook: fail in the post-commit tail
      // Old files are invisible now; eager physical delete matches the
      // reference (see Config.deleteReplacedFiles for the time-travel
      // preserving alternative) — EXCEPT files a user TAG still references:
      // expireSnapshots retains tagged snapshots as readable state, so the
      // eager delete must not break them out from under the retention
      // guard. Protected files stay on disk until the tag drops and expire
      // GCs them (manual redaction paths like deleteWhere stay eager on
      // purpose — right-to-be-forgotten overrides a tag).
      if (cfg.deleteReplacedFiles) {
        val protectedPaths = committer.tagProtectedPaths(res.metadata)
        (candidates ++ foldedDeletes).filterNot(f => protectedPaths.contains(f.filePath))
          .foreach(f => committer.io.delete(f.filePath))
      }
      Some(res)
    } catch {
      // Roll back: delete ONLY the files this compaction wrote — they are
      // uncommitted orphans — and rethrow. Covers the CAS conflict AND the
      // conservation-bracket refusal above; once `committed` is set the
      // files belong to the table and only the exception propagates.
      case c: CommitConflict =>
        if (!committed) newPaths.foreach(committer.io.delete)
        throw c
      case e: IllegalArgumentException =>
        if (!committed) newPaths.foreach(committer.io.delete)
        throw e
    }
  }
}
