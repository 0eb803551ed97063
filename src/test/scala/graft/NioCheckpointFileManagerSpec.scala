package graft

import graft.streaming.NioCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The crash-atomicity contract Structured Streaming's metadata logs rely
  * on (same semantics as Spark's rename-based default manager). */
class NioCheckpointFileManagerSpec extends AnyFunSuite {
  private def mgr(dir: java.nio.file.Path) =
    new NioCheckpointFileManager(new Path(dir.toUri), new Configuration())

  test("createAtomic publishes all-or-nothing: no partial file visible before close") {
    val dir = TestSpark.tempDir("cfm-")
    val m   = mgr(dir)
    val target = new Path(dir.resolve("0").toUri)
    val out = m.createAtomic(target, overwriteIfPossible = false)
    out.write("offset-batch-0".getBytes("UTF-8"))
    assert(!m.exists(target), "target must not exist until close")
    out.close()
    assert(m.exists(target))
    val in  = m.open(target)
    val buf = new Array[Byte](64)
    val n   = in.read(buf)
    in.close()
    assert(new String(buf, 0, n, "UTF-8") === "offset-batch-0")
  }

  test("losing a no-overwrite race raises FileAlreadyExistsException and leaves the winner intact") {
    val dir = TestSpark.tempDir("cfm-")
    val m   = mgr(dir)
    val target = new Path(dir.resolve("7").toUri)
    val a = m.createAtomic(target, overwriteIfPossible = false)
    a.write("winner".getBytes("UTF-8")); a.close()
    val b = m.createAtomic(target, overwriteIfPossible = false)
    b.write("loser".getBytes("UTF-8"))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](b.close())
    assert(new String(Files.readAllBytes(Paths.get(dir.resolve("7").toString)), "UTF-8") === "winner")
    // the loser's temp file must not linger
    assert(Files.list(dir).count() === 1)
  }

  test("cancel discards the temp file; overwrite=true replaces") {
    val dir = TestSpark.tempDir("cfm-")
    val m   = mgr(dir)
    val target = new Path(dir.resolve("metadata").toUri)
    val c = m.createAtomic(target, overwriteIfPossible = true)
    c.write("abandoned".getBytes("UTF-8")); c.cancel()
    assert(!m.exists(target))
    assert(Files.list(dir).count() === 0)
    val d = m.createAtomic(target, overwriteIfPossible = true)
    d.write("v1".getBytes("UTF-8")); d.close()
    val e = m.createAtomic(target, overwriteIfPossible = true)
    e.write("v2".getBytes("UTF-8")); e.close()
    assert(new String(Files.readAllBytes(Paths.get(dir.resolve("metadata").toString)), "UTF-8") === "v2")
  }

  test("list returns length/mtime statuses and filters; missing dir raises FileNotFound") {
    val dir = TestSpark.tempDir("cfm-")
    val m   = mgr(dir)
    Seq("0", "1", ".tmp-x").foreach { n =>
      Files.write(dir.resolve(n), n.getBytes("UTF-8"))
    }
    val all = m.list(new Path(dir.toUri))
    assert(all.map(_.getPath.getName).toSet === Set("0", "1", ".tmp-x"))
    assert(all.find(_.getPath.getName == "1").get.getLen === 1L)
    val batch = m.list(new Path(dir.toUri), (p: Path) => !p.getName.startsWith("."))
    assert(batch.map(_.getPath.getName).toSet === Set("0", "1"))
    intercept[java.io.FileNotFoundException](m.list(new Path(dir.resolve("nope").toUri)))
  }

  test("open supports seek and positioned reads (state-store changelog access shape)") {
    val dir = TestSpark.tempDir("cfm-")
    val m   = mgr(dir)
    val target = new Path(dir.resolve("log").toUri)
    val out = m.createAtomic(target, overwriteIfPossible = false)
    out.write("0123456789".getBytes("UTF-8")); out.close()
    val in = m.open(target)
    in.seek(4)
    assert(in.getPos === 4)
    assert(in.read() === '4'.toInt)
    val buf = new Array[Byte](3)
    in.readFully(7, buf)
    assert(new String(buf, "UTF-8") === "789")
    assert(in.getPos === 5, "positioned read must not move the cursor")
    in.close()
  }
}
