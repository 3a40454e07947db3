package graft.operators

/** Driver-resident cell cache shared by the zero-job serving tiers
  * (`LocalIvfServe` vectors, `LocalPqServe` codes; the graph tier keeps its
  * own — it additionally tracks id types and ephemeral builds): entries
  * keyed (layout path, stamp, cell), bounded by resident BYTES and entry
  * count with insertion-order eviction, superseded stamps of a layout
  * evicted on insert. `None` entries cache "the layout holds no rows for
  * this cell" so probing an empty cell never re-collects. In-flight
  * requests hold direct references to the cells they use, so concurrent
  * eviction is a reload cost, never a correctness event.
  */
private[graft] final class LocalCellCache[C](maxCells: Int,
    bytesOf: C => Long, maxBytes: () => Long) {

  private val cells = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Int), (Option[C], Long)]
  private val order =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Int)]
  private val bytes = new java.util.concurrent.atomic.AtomicLong(0)

  val loads = new java.util.concurrent.atomic.AtomicInteger(0)
  val hits = new java.util.concurrent.atomic.AtomicLong(0)
  val misses = new java.util.concurrent.atomic.AtomicLong(0)
  val evictions = new java.util.concurrent.atomic.AtomicLong(0)
  val oversizedDeclines = new java.util.concurrent.atomic.AtomicLong(0)

  def size: Int = cells.size
  def residentBytes: Long = bytes.get()

  def get(key: (String, Long, Int)): Option[Option[C]] = cells.get(key).map(_._1)

  private def remove(key: (String, Long, Int)): Unit = {
    cells.remove(key).foreach { case (_, b) => bytes.addAndGet(-b) }
    order.remove(key)
  }

  def insert(key: (String, Long, Int), cell: Option[C]): Unit = {
    // empty cells cache as tombstones at a nominal entry cost
    val b = cell.map(bytesOf).getOrElse(64L)
    if (cells.putIfAbsent(key, (cell, b)).isEmpty) {
      order.add(key)
      bytes.addAndGet(b)
      // superseded entries of this layout die on insert — matched by
      // generation STEM, not exact path: a buildIndex rebuild flips to a
      // `_g<n+1>` layout dir (new path AND new stamp), so same-path
      // eviction alone would strand the whole dead generation's cells in
      // the byte budget until capacity pressure aged them out (the same
      // stranding `Engine.currentLayout` fixes for its frame handles)
      val stem = LocalCellCache.genStem(key._1)
      cells.keys.filter(kk => (kk._1 == key._1 || LocalCellCache.genStem(kk._1) == stem) &&
          (kk._1 != key._1 || kk._2 != key._2))
        .foreach { kk => remove(kk); evictions.incrementAndGet() }
      var evicting = cells.size > maxCells || bytes.get() > maxBytes()
      while (evicting) {
        val oldest = order.poll()
        if (oldest == null) evicting = false
        else {
          cells.remove(oldest).foreach { case (_, bb) =>
            bytes.addAndGet(-bb); evictions.incrementAndGet()
          }
          evicting = cells.size > maxCells || bytes.get() > maxBytes()
        }
      }
    }
  }

  def drop(layoutIdPrefix: String): Unit =
    cells.keys.filter(_._1.startsWith(layoutIdPrefix)).foreach(remove)

  def clear(): Unit = { cells.clear(); order.clear(); bytes.set(0) }

  /** Metric map under the given prefix (GET /v1/metrics shape). */
  def metrics(prefix: String, maxBytesNow: Long): Map[String, Long] = Map(
    s"${prefix}_cells" -> size.toLong,
    s"${prefix}_bytes" -> residentBytes,
    s"${prefix}_max_bytes" -> maxBytesNow,
    s"${prefix}_loads" -> loads.get().toLong,
    s"${prefix}_hits" -> hits.get(),
    s"${prefix}_misses" -> misses.get(),
    s"${prefix}_evictions" -> evictions.get(),
    s"${prefix}_oversized_declines" -> oversizedDeclines.get())
}

private[graft] object LocalCellCache {
  private val GenSuffix = java.util.regex.Pattern.compile("_g\\d+$")

  /** A layout path without its `_g<n>` generation suffix — the key that
    * ties every rebuild of one layout together. Compiled once: stems are
    * taken per cached key on every insert.
    */
  def genStem(path: String): String = GenSuffix.matcher(path).replaceFirst("")
}
