package graft.operators

/** Driver-resident cell cache shared by the zero-job serving tiers
  * (`LocalIvfServe` vectors, `LocalPqServe` codes, `GraphAnn` cell graphs):
  * one entry per (layout path, cell), resident for the layout GENERATION
  * (the path) and carried across the stamps of maintained writes. An entry
  * records the stamp it is valid at and what it was built from — the cell
  * dir's file listing, the row versions above that stamp in those files,
  * and the tombstone map it was filtered by — so `LocalCellResolve` can
  * move it to a newer stamp unchanged when a write left the cell alone,
  * and rebuild it only when the write touched it. `None` cells cache "the
  * layout holds no rows for this cell", so probing an empty cell never
  * re-lists.
  *
  * Bounded by resident BYTES and entry count with insertion-order
  * eviction; `preload` fills up to the same bounds but never evicts. A
  * newer generation of a layout (a rebuild or compaction flips to a
  * `_g<n+1>` dir) retires the older generation's entries on insert, and a
  * straggler request on a retired generation serves its cells uncached.
  * In-flight requests hold direct references to the cells they use, so
  * concurrent eviction is a reload cost, never a correctness event.
  */
private[graft] final class LocalCellCache[C](maxCells: Int,
    bytesOf: C => Long, maxBytes: () => Long) {
  import LocalCellCache.{Entry, genOf, genStem}

  private val cells = scala.collection.concurrent.TrieMap
    .empty[(String, Int), Entry[C]]
  private val order =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]
  private val bytes = new java.util.concurrent.atomic.AtomicLong(0)

  val loads = new java.util.concurrent.atomic.AtomicInteger(0)
  val hits = new java.util.concurrent.atomic.AtomicLong(0)
  val misses = new java.util.concurrent.atomic.AtomicLong(0)
  val evictions = new java.util.concurrent.atomic.AtomicLong(0)
  val oversizedDeclines = new java.util.concurrent.atomic.AtomicLong(0)
  val preloaded = new java.util.concurrent.atomic.AtomicLong(0)
  val carried = new java.util.concurrent.atomic.AtomicLong(0)

  def size: Int = cells.size
  def residentBytes: Long = bytes.get()

  /** The cell at exactly (path, stamp, cell), if held. */
  def get(key: (String, Long, Int)): Option[Option[C]] =
    cells.get((key._1, key._3)).filter(_.stamp == key._2).map(_.cell)

  /** The entry held for (path, cell), at whatever stamp. */
  def entry(path: String, cell: Int): Option[Entry[C]] = cells.get((path, cell))

  def entryOf(stamp: Long, cell: Option[C], files: Vector[String],
      above: Array[Long], tombs: Map[Any, Long]): Entry[C] =
    new Entry(stamp, cell, cell.map(bytesOf).getOrElse(64L), files, above, tombs)

  /** Move `from` (held at an older stamp) to `stamp` unchanged. False when
    * the entry changed under us; the caller then rebuilds.
    */
  def carry(path: String, cell: Int, from: Entry[C], stamp: Long): Boolean = {
    val ok = cells.replace((path, cell), from,
      new Entry(stamp, from.cell, from.bytes, from.files, from.above.filter(_ > stamp), from.tombs))
    if (ok) carried.incrementAndGet()
    ok
  }

  private def remove(key: (String, Int)): Unit = {
    cells.remove(key).foreach(e => bytes.addAndGet(-e.bytes))
    order.remove(key)
  }

  /** Retire the entries of `path`'s older generations, and say whether
    * `path` is itself current (no newer generation of it is held).
    */
  private def retireOlder(path: String): Boolean = {
    val stem = genStem(path)
    val gen = genOf(path)
    val sameStem = cells.keys.filter(k => k._1 != path && genStem(k._1) == stem).toSeq
    if (sameStem.exists(k => genOf(k._1) > gen)) return false
    sameStem.foreach { k => remove(k); evictions.incrementAndGet() }
    true
  }

  private def put(key: (String, Int), e: Entry[C]): Unit = {
    cells.put(key, e) match {
      case Some(prev) => bytes.addAndGet(e.bytes - prev.bytes)
      case None => order.add(key); bytes.addAndGet(e.bytes)
    }
  }

  /** Cache `e` for (path, cell), evicting the oldest entries past the
    * bounds. Never replaces an entry at a newer stamp, nor caches a cell of
    * a retired generation.
    */
  def insert(path: String, cell: Int, e: Entry[C]): Unit = {
    if (!retireOlder(path)) return
    if (cells.get((path, cell)).exists(_.stamp > e.stamp)) return
    put((path, cell), e)
    var evicting = cells.size > maxCells || bytes.get() > maxBytes()
    while (evicting) {
      val oldest = order.poll()
      if (oldest == null) evicting = false
      else {
        cells.remove(oldest).foreach { old =>
          bytes.addAndGet(-old.bytes); evictions.incrementAndGet()
        }
        evicting = cells.size > maxCells || bytes.get() > maxBytes()
      }
    }
  }

  /** Cache `e` only if it fits the bounds as they stand — no eviction
    * beyond the retired generations. False = not cached: the bounds are
    * reached, the cell is already held, or its generation is retired.
    */
  def preload(path: String, cell: Int, e: Entry[C]): Boolean = {
    if (!retireOlder(path)) return false
    val fits = !cells.contains((path, cell)) && cells.size < maxCells &&
      bytes.get() + e.bytes <= maxBytes()
    if (fits) { put((path, cell), e); preloaded.incrementAndGet() }
    fits
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
    s"${prefix}_oversized_declines" -> oversizedDeclines.get(),
    s"${prefix}_cells_preloaded" -> preloaded.get(),
    s"${prefix}_cells_carried" -> carried.get())
}

private[graft] object LocalCellCache {
  private val GenSuffix = java.util.regex.Pattern.compile("_g(\\d+)$")

  /** One held cell, valid at `stamp`: built from the cell dir's `files`,
    * whose rows at versions `above` the stamp it does not show, filtered by
    * the tombstone map `tombs` (shared, immutable). Compared by reference.
    */
  final class Entry[C](val stamp: Long, val cell: Option[C], val bytes: Long,
      val files: Vector[String], val above: Array[Long], val tombs: Map[Any, Long])

  /** A layout path without its `_g<n>` generation suffix — the key that
    * ties every rebuild of one layout together.
    */
  def genStem(path: String): String = GenSuffix.matcher(path).replaceFirst("")

  /** The generation number of a layout path (0 for the unsuffixed name). */
  def genOf(path: String): Long = {
    val m = GenSuffix.matcher(path)
    if (m.find()) m.group(1).toLong else 0L
  }
}
