package graft

import com.fasterxml.jackson.databind.JsonNode
import graft.iceberg._
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Golden metadata for every committer operation: one table driven through
  * the committer API with hand-built `DataFile`s (no Spark). After each
  * operation the test dumps the file tree, `version-hint.text`, the current
  * metadata JSON, and every manifest list and manifest not dumped before —
  * decoded records and Avro header keys, never bytes (sync markers are
  * random). Snapshot ids become ordinals (`S1`, `S2`, … by first sight),
  * UUIDs become `U1`, `U2`, …, timestamps become 0, and a manifest length
  * is checked against the file it names instead of printed (varint widths
  * follow the random snapshot ids).
  *
  * The golden file is `src/test/resources/golden/committer-ops.txt`. On a
  * mismatch the actual dump is written to `target/committer-ops.actual.txt`;
  * replacing the golden file with it is a deliberate format change. */
class CommitterGoldenSpec extends AnyFunSuite {

  private val UuidRe = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val TimeKeys = Set("timestamp-ms", "last-updated-ms")

  private final class Dumper(root: Path) {
    private val snaps  = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    private val uuids  = scala.collection.mutable.LinkedHashMap.empty[String, String]
    private val seen   = scala.collection.mutable.Set.empty[String]
    var out            = new StringBuilder

    private def sid(id: Long): String = snaps.getOrElse(id, s"?$id")
    private def norm(s: String): String = {
      val u = UuidRe.replaceAllIn(s, m => uuids.getOrElseUpdate(m.matched, s"U${uuids.size + 1}"))
      snaps.foldLeft(u) { case (acc, (id, o)) => acc.replace(id.toString, o) }
    }
    private def line(depth: Int, s: String): Unit = out ++= "  " * depth ++= s += '\n'

    /** Canonical JSON: object keys sorted after normalization. */
    private def json(n: JsonNode, depth: Int, key: String): Unit = {
      val k = if (key == null) "" else s"${norm(key)}: "
      if (n.isObject) {
        line(depth, k + "{")
        n.fields().asScala.map(e => norm(e.getKey) -> e).toSeq.sortBy(_._1)
          .foreach { case (_, e) => json(e.getValue, depth + 1, e.getKey) }
        line(depth, "}")
      } else if (n.isArray) {
        line(depth, k + "[")
        n.elements().asScala.foreach(json(_, depth + 1, null))
        line(depth, "]")
      } else if (key != null && TimeKeys(key)) line(depth, k + "0")
      else if (n.isIntegralNumber && snaps.contains(n.asLong)) line(depth, k + sid(n.asLong))
      else if (n.isTextual) line(depth, k + "\"" + norm(n.asText) + "\"")
      else line(depth, k + n.toString)
    }

    private def header(bytes: Array[Byte]): Seq[String] = {
      val r = new DataFileStream[GenericRecord](new java.io.ByteArrayInputStream(bytes),
        new GenericDatumReader[GenericRecord]())
      try r.getMetaKeys.asScala.toSeq.filterNot(_.startsWith("avro.")).sorted
        .map(k => s"$k=${norm(r.getMetaString(k))}")
      finally r.close()
    }

    private def bounds(b: Map[Int, Array[Byte]]): String =
      b.toSeq.sortBy(_._1).map { case (k, v) =>
        val dec = if (v.length == 4) Bounds.decodeInt(v).toString else if (v.length == 8) Bounds.decodeLong(v).toString
                  else v.map("%02x".format(_)).mkString
        s"$k:$dec"
      }.mkString("{", ",", "}")

    private def manifest(rel: String): Unit = if (seen.add(rel)) {
      val bytes = Files.readAllBytes(root.resolve(rel))
      line(1, s"manifest ${norm(rel)} ${header(bytes).mkString(" ")}")
      ManifestIO.readManifest(bytes).foreach { e =>
        val f = e.dataFile
        line(2, s"status=${e.status} snapshot=${sid(e.snapshotId)} data-seq=${e.dataSequenceNumber.getOrElse("-")} " +
          s"content=${f.content} path=${norm(f.filePath)} format=${f.fileFormat} records=${f.recordCount} " +
          s"size=${f.fileSizeInBytes} lower=${bounds(f.lowerBounds)} upper=${bounds(f.upperBounds)}")
      }
    }

    private def manifestList(rel: String): Unit = if (seen.add(rel)) {
      val bytes = Files.readAllBytes(root.resolve(rel))
      line(1, s"list ${norm(rel)} ${header(bytes).mkString(" ")}")
      val entries = ManifestIO.readManifestList(bytes)
      entries.foreach { m =>
        val len = Files.size(root.resolve(m.manifestPath))
        line(2, s"${norm(m.manifestPath)} length-matches=${m.manifestLength == len} spec=${m.partitionSpecId} " +
          s"content=${m.content} seq=${m.sequenceNumber} min-seq=${m.minSequenceNumber} " +
          s"added-snapshot=${sid(m.addedSnapshotId)} files(a/e/d)=${m.addedFilesCount}/${m.existingFilesCount}/" +
          s"${m.deletedFilesCount} rows(a/e/d)=${m.addedRowsCount}/${m.existingRowsCount}/${m.deletedRowsCount}")
      }
      entries.foreach(m => manifest(m.manifestPath))
    }

    def dump(op: String, c: IcebergCommitter): Unit = {
      val meta = c.load().get
      meta.snapshots.foreach(s => if (!snaps.contains(s.snapshotId)) snaps(s.snapshotId) = s"S${snaps.size + 1}")
      line(0, s"=== $op")
      // metadata first, into its own buffer: UUID ordinals follow its
      // deterministic order, not the file system's listing order
      val all = out
      out = new StringBuilder
      json(new com.fasterxml.jackson.databind.ObjectMapper().readTree(meta.toJson), 1, null)
      meta.snapshots.foreach(s => manifestList(s.manifestList))
      val body = out
      out = all
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(p => norm(root.relativize(p).toString))
        .toSeq.sorted.foreach(f => line(1, s"file $f"))
      finally walk.close()
      line(1, "version-hint " + new String(Files.readAllBytes(root.resolve("metadata/version-hint.text")), "UTF-8"))
      out ++= body
    }
  }

  private def file(content: Int, path: String, records: Long, part: Int, seqLo: Long, seqHi: Long): DataFile =
    DataFile(content, path, "PARQUET", records, records * 100,
      Map(FieldIds.Partition -> Bounds.encodeInt(part), FieldIds.Sequence -> Bounds.encodeLong(seqLo)),
      Map(FieldIds.Partition -> Bounds.encodeInt(part), FieldIds.Sequence -> Bounds.encodeLong(seqHi)))

  test("every committer operation writes the golden metadata, manifest lists and manifests") {
    val root = TestSpark.tempDir("graft-golden-")
    val c    = new IcebergCommitter(new LocalTableIO(root.toString), "golden")
    val d    = new Dumper(root)
    // every data and delete file exists on disk, so expiry's physical GC shows in the file tree
    def touch(fs: DataFile*): Seq[DataFile] = {
      fs.foreach { f => val p = root.resolve(f.filePath); Files.createDirectories(p.getParent); Files.write(p, Array[Byte](1)) }
      fs
    }
    def head: Long = c.load().get.currentSnapshotId.get

    val a = file(0, "data/partition=0/a.parquet", 10, 0, 1, 10)
    val b = file(0, "data/partition=1/b.parquet", 5, 1, 1, 5)
    val e = file(0, "data/partition=0/e.parquet", 10, 0, 11, 20)
    c.commitAppend(touch(a), Map(0 -> 10L)); d.dump("append a", c)
    c.commitAppend(touch(b), Map(1 -> 5L), Map("zombi.batch-id" -> "7")); d.dump("append b", c)
    c.commitAppend(touch(e), Map(0 -> 20L)); d.dump("append e", c)

    val pos = file(1, "data/deletes/pos.parquet", 2, 0, 3, 4)
    val eq  = file(2, "data/deletes/eq.parquet", 1, 1, 5, 5)
    c.commitDeletes(touch(pos, eq), head); d.dump("deletes pos+eq", c)

    val m = file(0, "data/partition=0/m.parquet", 18, 0, 1, 20)
    c.commitReplace(Seq(a, e), touch(m), head, removedDeletes = Seq(pos), dataPreserving = true)
    d.dump("data-preserving replace folding pos", c)

    val s0 = c.currentSchema().get
    assert(c.evolveSchema(s0.copy(fields = s0.fields :+ IcebergField(200, "extra", "string", required = false))))
    d.dump("evolve schema", c)
    assert(c.evolvePartitionSpec(PartitionSpec.dateFields)); d.dump("evolve partition spec", c)
    val g = file(0, "data/partition=1/event_date=2024-01-02/g.parquet", 4, 1, 6, 9)
    val specAppend = c.commitAppend(touch(g), Map(1 -> 9L)); d.dump("append under new spec", c)

    c.createTag("golden-tag", specAppend.snapshotId); d.dump("create tag", c)
    assert(c.rewriteManifests().isDefined); d.dump("rewrite manifests", c)

    val h = file(0, "data/partition=0/event_date=2024-01-03/h.parquet", 3, 0, 21, 23)
    val staged = c.commitStaged(touch(h), Map(0 -> 23L)); d.dump("commit staged", c)
    c.publish(staged.snapshotId); d.dump("publish", c)
    c.rollbackTo(specAppend.snapshotId); d.dump("rollback", c)
    c.dropTag("golden-tag"); d.dump("drop tag", c)
    assert(c.expireSnapshots(keepLast = 2).nonEmpty); d.dump("expire snapshots", c)

    val actual = d.out.toString
    val golden = Option(getClass.getResourceAsStream("/golden/committer-ops.txt"))
      .map(s => try new String(s.readAllBytes(), "UTF-8") finally s.close())
    if (!golden.contains(actual)) {
      val dump = java.nio.file.Paths.get("target", "committer-ops.actual.txt")
      Files.createDirectories(dump.getParent)
      Files.write(dump, actual.getBytes("UTF-8"))
      val diff = golden.fold("golden file missing") { g =>
        val (gl, al) = (g.linesIterator.toVector, actual.linesIterator.toVector)
        val i = gl.indices.find(i => i >= al.size || gl(i) != al(i)).getOrElse(gl.size)
        s"first difference at line ${i + 1}: golden `${gl.lift(i).getOrElse("<eof>")}` vs actual `${al.lift(i).getOrElse("<eof>")}`"
      }
      fail(s"committer metadata differs from the golden dump ($diff); actual written to $dump")
    }
  }
}
