package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What [[SessionMemo.release]] and [[SessionMemo.evict]] sweep: every
  * live [[SessionMemo]] and [[FileMemo]] in the process. */
private[core] sealed trait Memo {
  private[core] def clear(s: SparkSession): Unit
  private[core] def removeWhere(s: SparkSession, p: String => Boolean): Unit
}

/** Per-(session, key) memo for session-bound values (cached DataFrames,
  * memory-sink view names): entries must never cross sessions — a cached
  * plan or temp-view name from session A is dead to session B — and must
  * not accumulate without bound either.
  *
  * Weak references cannot do the bounding here: a cached DataFrame
  * strongly references its own SparkSession, so a WeakHashMap entry whose
  * value (transitively) holds a DataFrame keeps its key reachable forever
  * — the classic value→key cycle the WeakHashMap javadoc warns about.
  * Instead the memo is an LRU over SESSIONS: at most
  * [[SessionMemo.MaxSessions]] sessions are tracked, and evicting one runs
  * `onEvict` over its values (e.g. `unpersist`) so driver/executor cache
  * actually frees. A long-lived service creating request-scoped sessions
  * is bounded at that many sessions' worth of index state — and can drop
  * to zero eagerly by calling [[SessionMemo.release]] when it retires a
  * session, instead of waiting for LRU pressure.
  *
  * Within a session an entry lives until the session is released: a batch
  * driver that queries one corpus many times keeps every index and frame
  * for the whole run. A caller that rewrites or deletes a corpus dir in
  * place calls [[SessionMemo.evict]] for that dir, which drops every
  * memo's entries built from it. */
final class SessionMemo[V](onEvict: V => Unit = (_: V) => ()) extends Memo {
  private val bySession =
    new java.util.LinkedHashMap[SparkSession, scala.collection.mutable.Map[String, V]](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, scala.collection.mutable.Map[String, V]]): Boolean = {
        val evict = size() > SessionMemo.MaxSessions
        if (evict)
          e.getValue.values.foreach(v => try onEvict(v) catch { case _: Exception => () })
        evict
      }
    }

  def getOrElseUpdate(s: SparkSession, key: String)(build: => V): V = synchronized {
    val inner = Option(bySession.get(s)).getOrElse {
      val m = scala.collection.mutable.Map.empty[String, V]
      bySession.put(s, m)
      m
    }
    inner.getOrElseUpdate(key, { SessionMemo.noteBuild(); build })
  }

  /** Drop everything memoized for `s`, running `onEvict` (unpersist) on
    * each value. Idempotent; safe on a never-seen session. */
  def clear(s: SparkSession): Unit = synchronized {
    Option(bySession.remove(s)).foreach(_.values.foreach(v =>
      try onEvict(v) catch { case _: Exception => () }))
  }

  /** Drop ONE memoized key for `s`, running `onEvict` on its value. */
  def remove(s: SparkSession, key: String): Unit = removeWhere(s, _ == key)

  /** Drop every key of `s` that `p` accepts, running `onEvict` once per
    * dropped value. */
  private[core] def removeWhere(s: SparkSession, p: String => Boolean): Unit = synchronized {
    Option(bySession.get(s)).foreach { inner =>
      inner.keys.filter(p).toSeq.foreach(k =>
        inner.remove(k).foreach(v => try onEvict(v) catch { case _: Exception => () }))
    }
  }

  // register LAST: a construction-ordered publish — the registry must never
  // hand a concurrent release() a memo whose state is still uninitialized
  SessionMemo.register(this)
}

/** JVM-wide memo for file fixtures built from a dir: committed tables,
  * streaming sinks and staging replicas that every session reads the same
  * way, so one build serves them all and [[SessionMemo.release]] leaves
  * them alone. A key is the source dir or a path under it (`dir/…`, e.g.
  * `dir/documents.parquet@<content stamp>`), so [[SessionMemo.evict]]
  * reaches it.
  *
  * A build makes its dirs through the `tmp(prefix)` it is handed, so the
  * entry owns them: a failed build deletes them at once, an evicted entry
  * deletes them with it, and whatever is still memoized is swept at JVM
  * exit ([[FsUtil.tempDir]]). One monitor per memo: builds of one memo run
  * one at a time, and a build may use another memo's entries (a nested
  * build, which `ConcurrentHashMap.computeIfAbsent` would refuse). */
final class FileMemo[V] extends Memo {
  private val entries = scala.collection.mutable.Map.empty[String, (V, Seq[String])]

  def getOrElseUpdate(key: String)(build: (String => String) => V): V = synchronized {
    entries.get(key).map(_._1).getOrElse {
      SessionMemo.noteBuild()
      val owned = scala.collection.mutable.ArrayBuffer.empty[String]
      val v =
        try build { prefix => val d = FsUtil.tempDir(prefix); owned += d; d }
        catch { case t: Throwable => delete(owned.toSeq); throw t }
      entries(key) = (v, owned.toSeq)
      v
    }
  }

  private[core] def clear(s: SparkSession): Unit = ()

  private[core] def removeWhere(s: SparkSession, p: String => Boolean): Unit = synchronized {
    entries.keys.filter(p).toSeq.foreach(k => entries.remove(k).foreach(e => delete(e._2)))
  }

  private def delete(dirs: Seq[String]): Unit =
    dirs.foreach(d => try FsUtil.deleteRecursively(d) catch { case _: Exception => () })

  SessionMemo.register(this)
}

object SessionMemo {
  /** Sessions a memo tracks before it evicts the least recently used. */
  val MaxSessions = 8

  /** A memo of persisted frames, unpersisted when evicted or released. */
  def frames(): SessionMemo[DataFrame] = new SessionMemo[DataFrame](onEvict = _.unpersist())

  /** Process-wide count of memo BUILDS (getOrElseUpdate misses) across all
    * memos. The bench snapshots it around each query's warm reps: memos
    * live for the whole sweep, so a nonzero delta there means a warm rep
    * rebuilt a memoized index/frame — a bug in that query's keying, not
    * noise. */
  private val buildCounter = new java.util.concurrent.atomic.AtomicLong()
  def buildCount: Long = buildCounter.get
  private[core] def noteBuild(): Unit = { buildCounter.incrementAndGet(); () }

  /** Every live memo, weakly — so [[release]] can sweep all of them
    * without memos outliving their owners. */
  private val instances =
    scala.collection.mutable.ArrayBuffer.empty[java.lang.ref.WeakReference[Memo]]

  private[core] def register(m: Memo): Unit = synchronized {
    instances += new java.lang.ref.WeakReference(m)
    instances.filterInPlace(_.get != null)
    ()
  }

  /** Session-retirement hook for service JVMs cycling request-scoped
    * sessions: releases every memoized value (cached cluster frames, ANN
    * index frames, …) held for `s` across ALL session memos in the
    * process, so a retired session's cached blocks free immediately
    * instead of aging out of the LRU. File fixtures ([[FileMemo]]) are
    * session-independent and stay. Call right before discarding a session
    * obtained from `newSession()` / `getOrCreate()`. */
  def release(s: SparkSession): Unit = live().foreach(_.clear(s))

  /** Invalidate one corpus dir: drops every key equal to `dir` or under it
    * (`dir/…` — per-file keys such as a table's split count) from ALL
    * memos — `s`'s entries in each [[SessionMemo]], running `onEvict` once
    * per dropped value, and every [[FileMemo]] entry, deleting the dirs
    * its build made. A sibling that merely shares the prefix (`dir-x`) is
    * kept. The one invalidation for callers that rewrite a dir in place or
    * delete a throwaway copy: the values built from the old files must not
    * answer for the new ones. */
  def evict(s: SparkSession, dir: String): Unit =
    live().foreach(_.removeWhere(s, k => k == dir || k.startsWith(dir + "/")))

  private def live(): Seq[Memo] = synchronized { instances.flatMap(r => Option(r.get)).toSeq }
}
