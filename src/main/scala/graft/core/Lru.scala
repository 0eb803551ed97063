package graft.core

/** A size-bounded, access-ordered, thread-safe cache from string keys —
  * the process-wide parse and schema caches ([[graft.iceberg.IcebergCommitter]],
  * [[ParquetTables]]) share it. Evicts the least recently used entry past
  * `max`.
  *
  * [[get]] runs `load` under the cache lock, so one key loads once.
  * [[peek]] + [[put]] let a caller load OUTSIDE the lock instead, when the
  * load is slow enough (a Spark job) that holding the lock would stall
  * every other key; two racing misses then both load and the last `put`
  * wins, which is fine only for values that are a pure function of the
  * key. */
final class Lru[V](max: Int) {
  private val m = new java.util.LinkedHashMap[String, V](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean = size() > max
  }
  def get(k: String)(load: => V): V = synchronized {
    val hit = m.get(k)
    if (hit != null) hit else { val v = load; m.put(k, v); v }
  }
  def peek(k: String): Option[V] = synchronized(Option(m.get(k)))
  def put(k: String, v: V): Unit = synchronized { m.put(k, v); () }
  def remove(k: String): Unit = synchronized { m.remove(k); () }
}
