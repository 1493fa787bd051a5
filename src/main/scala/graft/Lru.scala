package graft

/** Bounded, thread-safe LRU map for the driver-side memo tables (term
  * postings, fuzzy and trigram expansions, parsed queries, model token
  * lookups). Capacity 0 caches nothing.
  *
  * The monitor is held only for the map operation itself, never across
  * `getOrElseUpdate`'s compute: a cold entry is often a Spark job, and
  * holding the lock across it would serialize every concurrent caller
  * behind one collect. A racing duplicate compute is harmless because
  * every caller memoizes a pure function of its key.
  */
final class Lru[K, V](capacity: Int) {
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size() > capacity
  }

  def get(k: K): Option[V] = synchronized(Option(map.get(k)))

  def put(k: K, v: V): Unit = if (capacity > 0) synchronized(map.put(k, v))

  def getOrElseUpdate(k: K)(compute: => V): V =
    get(k).getOrElse { val v = compute; put(k, v); v }
}
