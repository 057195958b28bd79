package graft

/** Per-process build-once memoization for expensive, usually
  * side-effecting builders (saved index layouts, persisted posting
  * lists, driver sketches): `TrieMap.getOrElseUpdate` alone documents
  * that the default "may be evaluated multiple times" under contention,
  * and for these builders a double evaluation is not just wasted work —
  * two threads racing `write.mode("overwrite")` into the SAME
  * deterministic saved-index directory can interleave the delete and
  * write phases and corrupt the layout a third query is reading.
  *
  * The miss path therefore takes a lock (keyed on the cache itself) and
  * re-checks inside it, so every builder runs at most once per process;
  * the hit path stays lock-free — concurrent SERVING never contends
  * (pinned in `ConcurrentServeSpec`). Builds for different keys of one
  * cache serialize against each other, which is the right trade for
  * builders that each saturate the cluster anyway. */
object BuildOnce {
  def memo[K, V](cache: scala.collection.concurrent.TrieMap[K, V],
      key: K)(build: => V): V =
    cache.getOrElse(key,
      cache.synchronized { cache.getOrElseUpdate(key, build) })
}
