package graft.core

import org.apache.spark.sql.SparkSession

/** A per-session LRU map of at most `max` entries: the one container
  * behind the library's build-time memos ([[Estimates]] and the schema
  * memo of `graft.io.Sources`).
  *
  * Each session gets its own map, held under a weak key, and each map
  * evicts its least recently used entry past `max`. Memos of sessions
  * whose `SparkContext` has stopped are dropped at the next `put` (a key
  * that holds a plan refers to its session, so the weak key alone would
  * never let go). All access is synchronized; callers hold no lock while
  * they compute a value, so a racing duplicate computation is possible
  * and harmless.
  */
private[graft] final class SessionMemo[K, V](max: Int) {
  private val memos = new java.util.WeakHashMap[SparkSession, java.util.LinkedHashMap[K, V]]()

  def get(spark: SparkSession, k: K): Option[V] = memos.synchronized {
    Option(memos.get(spark)).flatMap(m => Option(m.get(k)))
  }

  def put(spark: SparkSession, k: K, v: V): Unit = memos.synchronized {
    memos.keySet.removeIf(_.sparkContext.isStopped)
    memos.computeIfAbsent(spark, _ => new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = this.size > max
    }).put(k, v)
    ()
  }

  /** Entries the session's map holds now. */
  def size(spark: SparkSession): Int = memos.synchronized {
    Option(memos.get(spark)).map(_.size).getOrElse(0)
  }
}
