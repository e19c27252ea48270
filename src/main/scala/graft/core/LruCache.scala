package graft.core

/**
 * Tiny synchronized access-order LRU for the driver-side caches
 * (snapshots, dv broadcasts, executor vectors, metadata-fold memos):
 * bounded, hot entries survive churn (no clear-on-overflow storms),
 * and an optional eviction hook releases held resources (e.g.
 * unpersisting an evicted broadcast). One definition so the
 * access-order + removeEldestEntry invariant and its synchronization
 * live in a single place.
 *
 * Locking discipline: `get`/`put`/`clear` each hold the monitor only
 * for the map operation — callers must CREATE expensive values outside
 * and reconcile losers via `put`'s returned previous value (see
 * [[graft.write.DeletionVectors.broadcastFor]]), never compute under
 * the lock.
 */
final class LruCache[K, V](max: Int, onEvict: (K, V) => Unit = (_: K, _: V) => ()) {

  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, /* accessOrder = */ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = {
      val evict = size() > max
      // record only — the hook runs AFTER the monitor is released (in
      // `put`), so a slow eviction hook (e.g. a blocking unpersist)
      // never serializes concurrent get/put callers
      if (evict) pendingEvict = (e.getKey, e.getValue)
      evict
    }
  }

  // single-slot handoff from removeEldestEntry (called under the
  // monitor inside map.put) to the post-lock hook invocation in `put`;
  // safe because it is only written/read while the monitor is held
  private var pendingEvict: (K, V) = _

  def get(k: K): Option[V] = map.synchronized(Option(map.get(k)))

  /** Insert and return the REPLACED value, if any — the replaced value
   * is NOT passed to `onEvict`; the caller decides (it may be the very
   * value a concurrent racer just handed out). */
  def put(k: K, v: V): Option[V] = {
    var evicted: (K, V) = null
    val prev = map.synchronized {
      val p = Option(map.put(k, v))
      evicted = pendingEvict
      pendingEvict = null
      p
    }
    if (evicted != null) onEvict(evicted._1, evicted._2)
    prev
  }

  /** The cached value, or `make` computed outside the lock and cached
   * (a concurrent racer's value is overwritten: for values that hold
   * no resource). */
  def getOrElseUpdate(k: K, make: => V): V = get(k).getOrElse {
    val v = make
    put(k, v)
    v
  }

  def clear(): Unit = map.synchronized(map.clear())

}
