package graft.api

import java.util.{LinkedHashMap => JLinkedHashMap, Map => JMap}

import graft.core.SearchHit

/** LRU search-result cache (reference component #2,
  * `internal/cache/lru_cache.go:12-25`; keying per
  * `internal/server/handlers.go:18-28`) — with the staleness bug FIXED: the
  * reference never invalidates on upsert (`handlers.go:36-74` vs `185-213`),
  * we make the collection's write-version part of the key, so any write
  * naturally misses and stale entries age out of the LRU.
  */
final class ResultCache(capacity: Int = 128) {
  require(capacity > 0)

  private val map = new JLinkedHashMap[String, Seq[SearchHit]](capacity, 0.75f, true) {
    override def removeEldestEntry(e: JMap.Entry[String, Seq[SearchHit]]): Boolean =
      size() > capacity
  }

  /** Cache key = sha-256 over (collection, write-version, params-epoch,
    * query bits, k) — the reference hashes (collection, vector json, limit),
    * `handlers.go:18-28`; the two version fields are the invalidation fix.
    */
  def key(coll: String, writeVersion: Long, paramsEpoch: Long,
      query: Array[Float], k: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(s"$coll:$writeVersion:$paramsEpoch:$k:".getBytes)
    val bb = java.nio.ByteBuffer.allocate(4 * query.length)
    query.foreach(bb.putFloat)
    md.update(bb.array())
    ResultCache.Hex.formatHex(md.digest())
  }

  def get(k: String): Option[Seq[SearchHit]] = synchronized(Option(map.get(k)))
  def put(k: String, v: Seq[SearchHit]): Unit = synchronized { map.put(k, v); () }
  def size: Int = synchronized(map.size())
  def clear(): Unit = synchronized(map.clear())
}

object ResultCache {
  private val Hex = java.util.HexFormat.of()
}
