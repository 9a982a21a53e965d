package graft.core

/** A least-recently-used map bounded by an entry cap AND a weight budget:
  * the one eviction policy of every driver-side cache (the reference keeps
  * one byte-budgeted History per server, History.h:25-77).
  *
  * An insert evicts least-recently-used entries while the map holds more
  * than `maxEntries` entries or more than `maxWeight` total weight, but
  * never the entry it just inserted: one entry over the budget is held,
  * alone, instead of thrashing in and out. Entries `evictable` rejects
  * (pinned, in flight) are skipped, so a map full of them stops evicting;
  * `onEvict` runs once per victim. `weigher` must return the same weight
  * for a value every time it is asked.
  *
  * Every method runs under this object's monitor, and so do the hit, miss
  * and eviction counts. The monitor is reentrant: a caller that must make
  * several steps atomic (look up, derive, insert) wraps them in
  * `lru.synchronized`.
  */
final class Lru[K, V <: AnyRef](val name: String,
                                val maxEntries: Int = Int.MaxValue,
                                val maxWeight: Long = Long.MaxValue,
                                weigher: V => Long = (_: V) => 0L,
                                evictable: V => Boolean = (_: V) => true,
                                onEvict: V => Unit = (_: V) => ()) {
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  private var held = 0L
  private var hitCount = 0L
  private var missCount = 0L
  private var evictionCount = 0L

  /** The value under `key`, or null; a hit makes it the most recent. */
  def get(key: K): V = synchronized {
    val v = map.get(key)
    if (v == null) missCount += 1 else hitCount += 1
    v
  }

  /** The value under `key`, or the one `compute` makes, inserted unless a
    * racing insert won. `compute` runs outside the monitor, so a slow miss
    * never stalls other callers.
    */
  def getOrCompute(key: K)(compute: => V): V = {
    val v = get(key)
    if (v != null) v else putIfAbsent(key, compute)
  }

  /** Mark `key` as just used, counting neither a hit nor a miss. */
  def touch(key: K): Unit = synchronized { map.get(key); () }

  /** Insert `value` unless `key` is held; the held value either way, so
    * the first of two racing inserts is the one every caller gets.
    */
  def putIfAbsent(key: K, value: V): V = synchronized {
    val old = map.get(key)
    if (old != null) old
    else {
      map.put(key, value)
      held += weigher(value)
      evictOverBudget()
      value
    }
  }

  /** The youngest entry is last in access order, so the loop stops before
    * it: `it.hasNext` after `next()` is false only on the youngest.
    */
  private def evictOverBudget(): Unit = {
    val it = map.values().iterator()
    while ((map.size > maxEntries || held > maxWeight) && it.hasNext) {
      val v = it.next()
      if (it.hasNext && evictable(v)) {
        it.remove()
        held -= weigher(v)
        evictionCount += 1
        onEvict(v)
      }
    }
  }

  /** Visit every entry, least recently used first, without touching it. */
  def forEach(f: (K, V) => Unit): Unit = synchronized(map.forEach((k, v) => f(k, v)))

  /** Drop every entry and zero the counts; `onEvict` does not run. */
  def clear(): Unit = synchronized {
    map.clear()
    held = 0L
    hitCount = 0L; missCount = 0L; evictionCount = 0L
  }

  def size: Int = synchronized(map.size)
  def weight: Long = synchronized(held)
  def hits: Long = synchronized(hitCount)
  def misses: Long = synchronized(missCount)
  def evictions: Long = synchronized(evictionCount)
}
