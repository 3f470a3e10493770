package graft.scaleops

/** Bounded access-ordered LRU for driver-side resident handles (IVF
  * index handles are the motivating user — kilobytes each, but the
  * serving path must never evict the hottest one, which the previous
  * arbitrary-entry eviction could do under 33+ live consumers; r12
  * verdict item 2). Driver-only by design, so plain synchronization
  * over `java.util.LinkedHashMap(accessOrder = true)` is sufficient —
  * this never ships to executors.
  */
final class LruCache[K, V](val cap: Int) {
  require(cap > 0, s"LruCache cap must be positive, got $cap")

  private val m = new java.util.LinkedHashMap[K, V](
    16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size() > cap
  }

  /** Touches the entry (moves it to most-recently-used). */
  def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))

  def put(k: K, v: V): Unit = m.synchronized { m.put(k, v); () }

  def size: Int = m.synchronized(m.size())

  def contains(k: K): Boolean = m.synchronized(m.containsKey(k))
}
