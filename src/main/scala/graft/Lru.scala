package graft

/** A map that drops its least recently used entry once it holds more
  * than `bound`, each call under the map's own lock. The caches built
  * on it key each entry by file identity (path, length, mtime), so a
  * stale entry cannot be served and nothing is ever cleared wholesale:
  * eviction only bounds driver memory. */
object Lru {
  def apply[K, V](bound: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, /* accessOrder = */ true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size() > bound
      })
}
