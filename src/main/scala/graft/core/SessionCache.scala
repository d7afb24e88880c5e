package graft.core

import org.apache.spark.sql.SparkSession

/** A per-session LRU memo for driver-side artifacts built from a
  * session's plans (prepared Datasets, localized dims, plan
  * templates). Entries are keyed per SESSION, so two sessions never
  * share one. Weak keys cannot reclaim a stopped session's entries —
  * every cached value references its session, so the value map would
  * pin the key for the JVM lifetime (the WeakHashMap javadoc's
  * value-refers-to-key caveat) — so each access sweeps the entries of
  * sessions whose SparkContext has stopped, and [[SessionCache.invalidate]]
  * drops one session's entries from every cache at once. `capacity`
  * bounds each session's map (least recently used entry evicted), so
  * a pathological caller cannot pin unbounded driver memory. */
final class SessionCache[K, V <: AnyRef](capacity: Int) {
  private val bySession = new java.util.HashMap[SparkSession, java.util.LinkedHashMap[K, V]]()

  SessionCache.all.add(this)

  def get(s: SparkSession, k: K): Option[V] = bySession.synchronized {
    Option(sessionMap(s).get(k))
  }

  def put(s: SparkSession, k: K, v: V): Unit = bySession.synchronized {
    sessionMap(s).put(k, v)
  }

  /** Entries held for `s`; sweeps nothing, so a spec can observe
    * whether another access evicted a stopped session. */
  private[graft] def size(s: SparkSession): Int = bySession.synchronized {
    Option(bySession.get(s)).fold(0)(_.size)
  }

  private[core] def drop(s: SparkSession): Unit =
    bySession.synchronized { bySession.remove(s) }

  private def sessionMap(s: SparkSession): java.util.LinkedHashMap[K, V] = {
    bySession.entrySet().removeIf(e => e.getKey.sparkContext.isStopped)
    bySession.computeIfAbsent(s, _ =>
      new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          this.size() > capacity
      })
  }
}

object SessionCache {
  private val all = new java.util.concurrent.CopyOnWriteArrayList[SessionCache[_, _]]()

  /** Drop every cached entry of `s` (idempotent; stopped sessions are
    * also swept implicitly on the next access from any session). */
  def invalidate(s: SparkSession): Unit = all.forEach(_.drop(s))
}
