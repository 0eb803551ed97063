package graft

import graft.core.SessionMemo
import graft.table.CommittedTables
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The file fixtures (committed tables, mutated Iceberg tables, segment
  * stores, streaming sinks, the JSONL export) are built once per dir for
  * the whole JVM. [[SessionMemo.evict]] must reach every one of them: after
  * an in-place rewrite of a corpus dir, each query answers like a fresh
  * copy of the new files, and no old fixture dir is left on disk. */
class FileFixtureEvictSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Src = "/root/testdata/sf0.001"

  /** One query per file-fixture family. */
  private val qs = Seq(
    "ingest_committed_read",  // CommittedTables
    "x10_mor_sql_read",       // a mutated IcebergQueries fixture
    "x2_extracted_committed", // ExtractedTables
    "s5_stream_ingest",       // StreamedTables and its staging dir
    "q8_segment_read",        // the segment store
    "w3_stream_sessions",     // a StreamQueries sink and its staged stream
    "src_jsonl_read")         // the JSONL export

  private def graftDirs(): Set[Path] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.toArray.toSeq.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.startsWith("graft-")).toSet
    finally ls.close()
  }

  /** `dir`'s events and documents: the originals, or with every third row
    * dropped (a different row count, so every answer changes). */
  private def writeCorpus(dir: Path, thinned: Boolean): Unit = {
    val s = spark.newSession()
    // read `ts` the way the engine does (nanosecond timestamps as longs)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("events.parquet" -> "event_id", "documents.parquet" -> "doc_id").foreach { case (f, id) =>
      val df = s.read.parquet(s"$Src/$f")
      (if (thinned) df.filter(org.apache.spark.sql.functions.col(id) % 3 =!= 0) else df)
        .write.mode("overwrite").parquet(dir.resolve(f).toString)
    }
  }

  test("evict(dir) after an in-place rewrite: every file fixture rebuilds and the old ones leave disk") {
    val a = TestSpark.tempDir("graft-evict-a-")
    val b = TestSpark.tempDir("graft-evict-b-")
    writeCorpus(a, thinned = false)
    writeCorpus(b, thinned = true)
    val s     = spark.newSession()
    val fresh = spark.newSession()
    def rows(session: org.apache.spark.sql.SparkSession, dir: Path, q: String): Seq[String] =
      SparkEntry.queries(q)(session, dir.toString).collect().map(_.toString).toSeq.sorted
    try {
      val before0 = graftDirs()
      val old     = qs.map(rows(s, a, _))
      val oldRoot = CommittedTables.tableRoot(s, a.toString)
      val built   = graftDirs() -- before0
      assert(built.exists(d => oldRoot.startsWith(d.toString)), "the fixtures live in graft-* temp dirs")
      writeCorpus(a, thinned = true) // in place
      SessionMemo.evict(s, a.toString)
      assert(!Files.exists(Paths.get(oldRoot)), "the old committed table must leave disk")
      val left = built.filter(Files.exists(_))
      assert(left.isEmpty, s"old fixture dirs still on disk after evict: ${left.map(_.getFileName).mkString(", ")}")
      qs.zip(old).foreach { case (q, was) =>
        val want = rows(fresh, b, q)
        assert(want !== was, s"$q: the rewrite must change the answer, or this test shows nothing")
        assert(rows(s, a, q) === want, s"$q answered from the old files after evict")
      }
    } finally {
      SessionMemo.evict(s, a.toString)
      SessionMemo.evict(fresh, b.toString)
      SessionMemo.release(s)
      SessionMemo.release(fresh)
      graft.core.FsUtil.deleteRecursively(a)
      graft.core.FsUtil.deleteRecursively(b)
    }
  }
}
