package graft

import graft.core.{FileMemo, SessionMemo}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Session-retirement semantics: a service JVM cycling request-scoped
  * sessions must be able to free a retired session's memoized cached
  * blocks eagerly (VERDICT r8 follow-up), not wait for 8-session LRU
  * pressure. */
class SessionMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("clear(session) evicts exactly that session's values and reruns builds after") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
    val memo    = new SessionMemo[String](onEvict = evicted += _)
    val s2      = spark.newSession()
    assert(memo.getOrElseUpdate(spark, "k")("a") === "a")
    assert(memo.getOrElseUpdate(s2, "k")("b") === "b")
    memo.clear(spark)
    assert(evicted.toSeq === Seq("a"))
    // other session untouched; cleared session rebuilds
    assert(memo.getOrElseUpdate(s2, "k")(fail("must be memoized")) === "b")
    assert(memo.getOrElseUpdate(spark, "k")("a2") === "a2")
    memo.clear(spark) // idempotent on repeat + safe on unseen sessions
    memo.clear(spark.newSession())
    assert(evicted.toSeq === Seq("a", "a2"))
  }

  test("buildCount ticks on misses only — the bench's mid-sweep rebuild detector") {
    val memo = new SessionMemo[String]()
    val c0 = SessionMemo.buildCount
    assert(memo.getOrElseUpdate(spark, "k")("v") === "v")
    assert(SessionMemo.buildCount === c0 + 1, "a build must tick the counter")
    assert(memo.getOrElseUpdate(spark, "k")(fail("must be memoized")) === "v")
    assert(SessionMemo.buildCount === c0 + 1, "a hit must NOT tick the counter")
    memo.remove(spark, "k")
    assert(memo.getOrElseUpdate(spark, "k")("v2") === "v2")
    assert(SessionMemo.buildCount === c0 + 2, "an evicted key's rebuild must tick — " +
      "this is exactly the round-11 bench-regression signal")
  }

  test("release(session) unpersists memoized cached frames across ALL memos") {
    // a DEDICATED session: release() sweeps every memo in the process for
    // the given session, so releasing the shared test session here would
    // wipe other suites' memoized fixtures (LlmQueries caches) mid-run
    val s = spark.newSession()
    val m1 = new SessionMemo[org.apache.spark.sql.DataFrame](onEvict = _.unpersist())
    val m2 = new SessionMemo[org.apache.spark.sql.DataFrame](onEvict = _.unpersist())
    val df1 = s.range(10).toDF("v").persist(StorageLevel.MEMORY_AND_DISK)
    val df2 = s.range(20).toDF("v").persist(StorageLevel.MEMORY_AND_DISK)
    df1.count(); df2.count()
    m1.getOrElseUpdate(s, "a")(df1)
    m2.getOrElseUpdate(s, "b")(df2)
    assert(df1.storageLevel !== StorageLevel.NONE)
    SessionMemo.release(s)
    assert(df1.storageLevel === StorageLevel.NONE, "retired session's blocks must free")
    assert(df2.storageLevel === StorageLevel.NONE, "every memo in the process is swept")
  }

  test("evict(session, dir) drops dir and dir/… keys across memos, each value once, nothing else") {
    // a DEDICATED session: evict() sweeps every memo in the process
    val s     = spark.newSession()
    val other = spark.newSession()
    val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
    val m1 = new SessionMemo[String](onEvict = evicted += _)
    val m2 = new SessionMemo[String](onEvict = evicted += _)
    Seq("/c", "/c/documents.parquet", "/c2").foreach(k => m1.getOrElseUpdate(s, k)(s"m1:$k"))
    Seq("/c", "/c-x").foreach(k => m2.getOrElseUpdate(s, k)(s"m2:$k"))
    m2.getOrElseUpdate(other, "/c")("other:/c")
    SessionMemo.evict(s, "/c")
    assert(evicted.sorted.toSeq === Seq("m1:/c", "m1:/c/documents.parquet", "m2:/c"))
    SessionMemo.evict(s, "/c")
    assert(evicted.size === 3, "a second evict is a no-op")
    // a sibling dir, a prefix-sharing sibling and another session survive
    assert(m1.getOrElseUpdate(s, "/c2")(fail("must be memoized")) === "m1:/c2")
    assert(m2.getOrElseUpdate(s, "/c-x")(fail("must be memoized")) === "m2:/c-x")
    assert(m2.getOrElseUpdate(other, "/c")(fail("must be memoized")) === "other:/c")
    assert(m1.getOrElseUpdate(s, "/c")("rebuilt") === "rebuilt")
  }

  test("FileMemo: one build per key for every session; release keeps it, evict deletes its dirs") {
    val s    = spark.newSession()
    val memo = new FileMemo[String]
    val c0   = SessionMemo.buildCount
    val made = scala.collection.mutable.ArrayBuffer.empty[String]
    def build(tag: String)(tmp: String => String): String = {
      val d = tmp(s"graft-filememo-$tag-"); made += d; d
    }
    val root = "/filememo-c"
    val a    = memo.getOrElseUpdate(root)(build("a"))
    val b    = memo.getOrElseUpdate(s"$root/documents.parquet@stamp")(build("b"))
    val x    = memo.getOrElseUpdate(s"$root-x")(build("x"))
    assert(SessionMemo.buildCount === c0 + 3, "file-memo builds tick the shared counter")
    assert(memo.getOrElseUpdate(root)(_ => fail("must be memoized")) === a)
    SessionMemo.release(s)
    SessionMemo.release(spark.newSession())
    assert(memo.getOrElseUpdate(root)(_ => fail("release must not touch file memos")) === a)
    SessionMemo.evict(s, root)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(a)), "evict deletes the entry's dirs")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(b)), "keys under dir/ go too")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(x)), "a prefix-sharing sibling stays")
    assert(memo.getOrElseUpdate(s"$root-x")(_ => fail("must be memoized")) === x)
    assert(memo.getOrElseUpdate(root)(build("a2")) !== a, "an evicted key rebuilds")
    // a failed build leaves no dir behind and no entry
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    intercept[IllegalStateException](memo.getOrElseUpdate("/filememo-f") { tmp =>
      failed += tmp("graft-filememo-f-"); throw new IllegalStateException("boom")
    })
    assert(failed.nonEmpty && failed.forall(d => !java.nio.file.Files.exists(java.nio.file.Paths.get(d))))
    assert(memo.getOrElseUpdate("/filememo-f")(_ => "ok") === "ok")
    SessionMemo.evict(s, root)
    SessionMemo.evict(s, s"$root-x")
    assert(made.forall(d => !java.nio.file.Files.exists(java.nio.file.Paths.get(d))))
  }
}
