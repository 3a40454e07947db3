package graft.operators

import graft.core.{Decline, LayoutFile, LayoutFiles, LocalPointReader, LocalRunWriter}
import graft.kernels.VecKernels

/** Shared plumbing of the zero-job cell-serving tiers: resolve a request's
  * probed cells against a `LocalCellCache`, and fill the cache for a new
  * layout generation. Each cell is its partition dir's rows at the layout
  * stamp, built on the driver from the tier's `LayoutFiles` (no Spark job).
  *
  * A probed cell is, in order: held at the request's stamp (a hit, by
  * direct reference); held at an older stamp and CARRIED to this one
  * unchanged, when the maintained writes between the two stamps left it
  * alone; or built from its files, most of them already decoded (the
  * generation's files stay memoized, and the runs a write added were
  * registered decoded). A cell that would not fit the byte budget by its
  * parquet footprint is never decoded.
  *
  * Carry rule (a carried cell equals a cold build at the new stamp): its
  * dir lists the same files it was built from, none of them holds a row
  * with version in (old stamp, new stamp], and every id the cell shows has
  * the same tombstone entry at both stamps. Under `LayoutFiles`' snapshot
  * rule those are exactly the rows that could differ.
  */
private[graft] object LocalCellResolve {

  /** The data files of each cell's partition dir, split into (oversized,
    * loadable) by their parquet footprint: a cell whose estimated RESIDENT
    * size exceeds the whole byte budget must never be decoded on the driver.
    */
  private def listCells(fsPath: String, partCol: String, cells: Seq[Int],
      maxBytes: Long): (Seq[Int], Seq[(Int, Vector[String])]) = {
    val listed = cells.map { c =>
      (c, LocalPointReader.listRunSizes(s"$fsPath/$partCol=$c"))
    }
    val (over, ok) = listed.partition { case (_, files) =>
      files.map(_._2).sum * GraphAnn.LocalServeDiskExpansion > maxBytes
    }
    (over.map(_._1), ok.map { case (c, files) => (c, files.map(_._1).sorted) })
  }

  /** The cache entry of cell files `fs` built at `stamp` under `tombs`
    * (None = versionless rows, every one kept).
    */
  private def build[C](cache: LocalCellCache[C], files: LayoutFiles, stamp: Long,
      fs: Vector[String], columns: Seq[String], tombs: Option[Map[Any, Long]],
      make: Seq[(LayoutFile, Array[Int])] => C, evict: Boolean): LocalCellCache.Entry[C] = {
    val (rows, above) = files.cell(fs, columns, tombs.map(t => (stamp, t)), evict)
    cache.entryOf(stamp, if (rows.isEmpty) None else Some(make(rows)), fs, above,
      tombs.getOrElse(Map.empty))
  }

  /** Ids whose tombstone entry differs between two tombstone maps. */
  private def changedIds(a: Map[Any, Long], b: Map[Any, Long]): Set[Any] =
    (b.iterator.filter { case (id, v) => !a.get(id).contains(v) }.map(_._1) ++
      a.keysIterator.filterNot(b.contains)).toSet

  /** Probe, carry and build: the probed cells of `keyPath` at `stamp` and
    * the oversized ones. `tombDir` = the layout's `_tombstones` sidecar
    * (None: versionless rows, every one kept). `declineOversized` stops
    * before any decode when a probed cell is oversized.
    */
  private def cellsAt[C](cache: LocalCellCache[C], files: LayoutFiles,
      keyPath: String, stamp: Long, fsPath: String, partCol: String,
      needed: Seq[Int], maxBytes: Long, columns: Seq[String],
      make: Seq[(LayoutFile, Array[Int])] => C, ids: C => Array[Any],
      tombDir: Option[String], declineOversized: Boolean)
      : (scala.collection.mutable.Map[Int, Option[C]], Seq[Int]) = {
    val held = scala.collection.mutable.Map.empty[Int, Option[C]]
    val stale = scala.collection.mutable.Map.empty[Int, LocalCellCache.Entry[C]]
    needed.foreach { c =>
      cache.entry(keyPath, c).foreach { e =>
        if (e.stamp == stamp) held(c) = e.cell
        else if (e.stamp < stamp) stale(c) = e
      }
    }
    val missing = needed.filterNot(held.contains)
    if (missing.isEmpty) { cache.hits.addAndGet(held.size.toLong); return (held, Nil) }
    val (oversized, listed) = listCells(fsPath, partCol, missing, maxBytes)
    if (declineOversized && oversized.nonEmpty) {
      cache.hits.addAndGet(held.size.toLong)
      cache.misses.addAndGet(missing.length.toLong)
      return (held, oversized)
    }
    lazy val tombs = tombDir.map(files.tombstones(_, stamp))
    val changed = new java.util.IdentityHashMap[Map[Any, Long], Set[Any]]()
    def unchanged(e: LocalCellCache.Entry[C], fs: Vector[String]): Boolean =
      e.files == fs && !e.above.exists(_ <= stamp) && tombs.forall { t =>
        (t eq e.tombs) || {
          val ch = changed.computeIfAbsent(e.tombs, changedIds(_, t))
          ch.isEmpty || e.cell.forall(cell => !ids(cell).exists(ch.contains))
        }
      }
    val toLoad = listed.filterNot { case (c, fs) =>
      val carried = stale.get(c).exists(e => unchanged(e, fs) && cache.carry(keyPath, c, e, stamp))
      if (carried) held(c) = stale(c).cell
      carried
    }
    cache.hits.addAndGet((needed.length - toLoad.length - oversized.length).toLong)
    cache.misses.addAndGet((toLoad.length + oversized.length).toLong)
    if (toLoad.nonEmpty) {
      val built = try toLoad.map { case (c, fs) =>
        c -> build(cache, files, stamp, fs, columns, tombs, make, evict = true)
      } catch {
        // the per-cell variant serves these cells distributed instead
        case _: LayoutFiles.UnsupportedIdType if !declineOversized =>
          return (held, oversized ++ toLoad.map(_._1))
      }
      cache.loads.incrementAndGet()
      built.foreach { case (c, e) => held(c) = e.cell; cache.insert(keyPath, c, e) }
    }
    (held, oversized)
  }

  /** The probed cells of the layout at `path` as of `stamp`: its
    * `cluster_id=N` dirs, rows with `version ≤ stamp` less those its
    * `_tombstones` sidecar shadows at that stamp. Left = a probed cell's
    * disk footprint exceeds the whole byte budget, or its ids are of a type
    * the driver decode does not map — the caller declines the REQUEST to
    * the distributed plan (nothing is decoded on the decline path).
    */
  def resolve[C](cache: LocalCellCache[C], files: LayoutFiles, path: String,
      stamp: Long, needed: Seq[Int], maxBytes: Long, columns: Seq[String],
      make: Seq[(LayoutFile, Array[Int])] => C, ids: C => Array[Any])
      : Either[Decline, collection.Map[Int, Option[C]]] =
    try {
      val (held, oversized) = cellsAt(cache, files, path, stamp, path, "cluster_id",
        needed, maxBytes, columns, make, ids, Some(s"$path/_tombstones"), declineOversized = true)
      if (oversized.nonEmpty) {
        cache.oversizedDeclines.incrementAndGet(); Left(Decline.OversizedCell)
      } else Right(held)
    } catch { case _: LayoutFiles.UnsupportedIdType => Left(Decline.UnsupportedIdType) }

  /** The graph tier's PER-CELL variant: loadable misses are built and
    * cached, the rest are returned for the caller to serve through a
    * bounded distributed job instead (the request proceeds either way —
    * the graph tier never declines wholesale): oversized cells, and every
    * miss when the layout's ids are of a type the driver decode does not
    * map. Graph adjacency is versionless (the caller excludes tombstoned
    * hits), so every row of a cell's files is kept. `keyPath` keys the
    * cache (a layout id, possibly ephemeral); `fsPath` locates the
    * partition dirs on disk; `partCol` is the layout's partition column.
    */
  def resolveSplit[C](cache: LocalCellCache[C], files: LayoutFiles,
      keyPath: String, stamp: Long, fsPath: String, partCol: String,
      needed: Seq[Int], maxBytes: Long, columns: Seq[String],
      make: Seq[(LayoutFile, Array[Int])] => C)
      : (scala.collection.mutable.Map[Int, Option[C]], Seq[Int]) =
    cellsAt(cache, files, keyPath, stamp, fsPath, partCol, needed, maxBytes,
      columns, make, (_: C) => Array.empty[Any], None, declineOversized = false)

  /** Fill the cache with the cells of a new layout generation at `stamp`,
    * in cell order, up to the cache's entry and byte bounds as they stand:
    * nothing is evicted but the retired generations, and decoded files are
    * memoized only where they fit. Oversized cells and cells already held
    * are skipped. Each of the model's `nCells` cells without a partition
    * dir (k-means left it without rows) is held as empty, unlisted, so its
    * first probe is a hit. Returns the cells cached.
    */
  def preload[C](cache: LocalCellCache[C], files: LayoutFiles, keyPath: String,
      stamp: Long, fsPath: String, partCol: String, nCells: Int, maxBytes: Long,
      columns: Seq[String], make: Seq[(LayoutFile, Array[Int])] => C,
      tombDir: Option[String]): Int =
    try {
      val tombs = tombDir.map(files.tombstones(_, stamp))
      val onDisk = LayoutFiles.partitions(fsPath, partCol).toSet
      val cells = (onDisk ++ (0 until nCells)).toSeq.sorted
        .filterNot(c => cache.entry(keyPath, c).exists(_.stamp >= stamp))
      val (_, loadable) = listCells(fsPath, partCol, cells.filter(onDisk), maxBytes)
      val empty = cells.filterNot(onDisk).map((_, Vector.empty[String]))
      (loadable ++ empty).sortBy(_._1).iterator.map { case (c, fs) =>
        cache.preload(keyPath, c, build(cache, files, stamp, fs, columns, tombs, make, evict = false))
      }.takeWhile(identity).size
    } catch { case _: LayoutFiles.UnsupportedIdType => 0 }
}

/** What Engine needs of a zero-job cell serve besides its searches: fill
  * the cache when a build or compaction stamps a new layout generation,
  * and hold the runs a maintained write adds as already decoded.
  */
private[graft] trait LocalCellServe {
  protected def files: LayoutFiles
  protected def cellColumns: Seq[String]

  /** Preload the `nCells` cells of the layout at `path`, current at `stamp`. */
  def preload(path: String, stamp: Long, nCells: Int): Unit

  /** `f`, one run `LocalRunWriter.writeLayoutRuns` wrote at `version`. */
  def registerLayoutRun(f: String, rows: Seq[LocalRunWriter.LayoutRow], version: Long): Unit =
    files.register(f, cellColumns, LayoutFiles.ofLayoutRows(rows, version, cellColumns))

  /** `f`, one run `LocalRunWriter.writeTombstoneRun` wrote. */
  def registerTombstoneRun(f: String, ids: Seq[String], ver: Long): Unit =
    files.register(f, LayoutFiles.TombCols, LayoutFiles.ofTombstones(ids, ver))
}

/** ZERO-SPARK-JOB point serving over the IVF inverted-list layout — the
  * `GraphAnn.searchPointLocal` architecture applied to the ivf_flat tier
  * (reference `internal/index/ivf.go` Search semantics, served like the
  * driver-local tiers): probe lists come from the driver-resident coarse
  * centroids, and single/few-query requests rank entirely in-JVM over
  * driver-resident cells. The cells are resident per layout GENERATION,
  * as the reference's index is loaded once and appended in place:
  * `buildIndex`/`compactLayout` preload the new generation's cells right
  * after the stamp, and a maintained write leaves every cell it did not
  * touch to be carried to the new stamp unchanged (`LocalCellResolve`'s
  * carry rule), the cells it touched rebuilt from files already decoded —
  * the runs the write added are registered decoded. Neither a warm request
  * nor a cold cell launches a Spark job.
  *
  * Results are IDENTICAL to `IvfIndex.search`/`searchDistributed` at equal
  * knobs, by construction: the same `Model.probe` (same coarse metric and
  * (distance, index) centroid tie-break), distances through the SAME
  * `VecKernels` methods the codegen expressions call, ranking by
  * (distance asc, id asc) with the UTF-8-byte id order the distributed
  * ties use (`GraphAnn.idLt`), and cells holding exactly the rows of the
  * tombstone-applied frame the distributed plan scans — a cell at stamp
  * `s` is its partition dir's rows with `version ≤ s`, less those a
  * tombstone with `ver ≤ s` shadows (`applyTombstones`' rule).
  * `LocalIvfParitySpec` gates equality, including ties, maintained
  * upserts, overwrites, deletes, and filtered serving.
  *
  * Scale: the cache holds cells up to a bound in resident BYTES (dim-aware)
  * and an entry count, with insertion-order eviction (a preload stops at
  * the bounds instead), and the decoded-file memo under the same byte
  * budget; a cell whose parquet footprint says it cannot fit the whole
  * budget is never decoded — the request declines (returns Left) and the
  * caller serves it through the distributed partition-pruned plan instead.
  * In-flight requests hold direct references, so concurrent eviction is a
  * reload cost, never a correctness event.
  */
object LocalIvfServe extends LocalCellServe {

  /** One cached cell: the cell's rows as parallel driver arrays. `ntoks`
    * carries each row's `__ntok` param (-1 when absent) so a MULTIVECTOR
    * shortlist hit also yields its doc's token count — the MaxSim serve
    * then enumerates candidate token-row ids with ZERO extra point reads
    * (r11's 52 ms p50 was dominated by a token-count pre-read pass).
    */
  private final case class Cell(ids: Array[Any], vecs: Array[Array[Float]],
      ntoks: Array[Int]) {
    def residentBytes: Long = {
      val dim = if (vecs.nonEmpty && vecs(0) != null) vecs(0).length else 0
      // float payload + ntok int + array/object headers + boxed id estimate
      ids.length.toLong * (dim.toLong * 4L + 100L)
    }
  }

  private def cellOf(parts: Seq[(LayoutFile, Array[Int])]): Cell = {
    val n = parts.map(_._2.length).sum
    val ids = new Array[Any](n)
    val vecs = new Array[Array[Float]](n)
    val ntoks = new Array[Int](n)
    var j = 0
    parts.foreach { case (f, rows) =>
      rows.foreach { i =>
        ids(j) = f.ids(i); vecs(j) = f.vectors(i)
        ntoks(j) = if (f.ntoks == null) -1 else f.ntoks(i)
        j += 1
      }
    }
    Cell(ids, vecs, ntoks)
  }

  /** Driver-heap bound in resident BYTES (the same reasoning as
    * `GraphAnn.maxLocalServeBytes`); operable knob, default 1 GiB. Bounds
    * the cell cache and the decoded-file memo each.
    */
  @volatile var maxLocalIvfBytes: Long = 1L << 30

  private val cache = new LocalCellCache[Cell](256, _.residentBytes,
    () => maxLocalIvfBytes)
  protected val files = new LayoutFiles(() => maxLocalIvfBytes)
  protected val cellColumns: Seq[String] = Seq("id", "version", "vector", "params")

  def metrics: Map[String, Long] =
    cache.metrics("ivf_local", maxLocalIvfBytes) ++ files.metrics("ivf_local")

  def preload(path: String, stamp: Long, nCells: Int): Unit =
    LocalCellResolve.preload[Cell](cache, files, path, stamp, path, "cluster_id",
      nCells, maxLocalIvfBytes, cellColumns, cellOf, Some(s"$path/_tombstones"))

  private[graft] def dropCells(layoutIdPrefix: String): Unit = {
    cache.drop(layoutIdPrefix); files.drop(layoutIdPrefix)
  }

  private[graft] def clearCells(): Unit = { cache.clear(); files.clear() }

  /** Serve `queries` (driver pairs of (qid, vector)) from driver-resident
    * cells of the layout at `path` as of `stamp` — held, carried from an
    * earlier stamp, or built from the layout's files; none launches a job.
    * Returns (qid, id, distance, rnk) driver rows. `eligible` mirrors the
    * distributed semi-join restriction (probe lists stay geometry-pruned,
    * rows filter by id — the ivf tier's filtered semantics, unlike the
    * graph tier's full fan-out). Left — the caller falls back to the
    * distributed plan — when a probed cell's disk footprint says it cannot
    * fit the byte budget, or its ids are of an unmapped type.
    */
  def searchPointLocalRows(
      path: String,
      stamp: Long,
      model: IvfIndex.Model,
      queries: Seq[(Any, Array[Float])],
      k: Int,
      nprobe: Int,
      eligible: Option[Set[Any]] = None,
      maxQueries: Int = 64): Either[Decline, Seq[(Any, Any, Double, Long)]] =
    searchPointLocalRowsNtok(path, stamp, model, queries,
      k, nprobe, eligible, maxQueries)
      .map(_.map(t => (t._1, t._2, t._3, t._4)))

  /** `searchPointLocalRows` plus each hit row's `__ntok` param (-1 when
    * absent) — the multivector serve's token-count channel.
    */
  def searchPointLocalRowsNtok(
      path: String,
      stamp: Long,
      model: IvfIndex.Model,
      queries: Seq[(Any, Array[Float])],
      k: Int,
      nprobe: Int,
      eligible: Option[Set[Any]] = None,
      maxQueries: Int = 64): Either[Decline, Seq[(Any, Any, Double, Long, Int)]] = {
    require(k > 0, s"k must be positive, got $k")
    require(queries.length <= maxQueries,
      s"searchPointLocalRows is the driver-serve path (${queries.length} queries > " +
        s"$maxQueries); use IvfIndex.search/searchDistributed for batches")
    // validation lives in Model.probe (same require as every distributed
    // path — the two must reject identical inputs identically)
    val probed: Array[Seq[Int]] =
      queries.toArray.map(q => model.probe(q._2, nprobe))
    val needed = probed.flatten.distinct.sorted
    val held = LocalCellResolve.resolve[Cell](cache, files, path, stamp,
      needed, maxLocalIvfBytes, cellColumns, cellOf, _.ids) match {
      case Right(h) => h
      case Left(d) => return Left(d)
    }
    val out = Seq.newBuilder[(Any, Any, Double, Long, Int)]
    var qi = 0
    while (qi < queries.length) {
      val (qid, qv) = queries(qi)
      val hits = scala.collection.mutable.ArrayBuffer.empty[(Any, Double, Int)]
      probed(qi).foreach { c =>
        held.getOrElse(c, None).foreach { cell =>
          var i = 0
          while (i < cell.ids.length) {
            val id = cell.ids(i)
            if (eligible.forall(_.contains(id)))
              hits += ((id, VecKernels.dist(qv, cell.vecs(i), model.space),
                cell.ntoks(i)))
            i += 1
          }
        }
      }
      // the distributed paths rank via (distance asc, id asc) with UTF-8
      // byte order on string ids — GraphAnn.idLt IS that order
      val ranked = hits.toArray
        .sortWith((a, b) => a._2 < b._2 || (a._2 == b._2 && GraphAnn.idLt(a._1, b._1)))
        .take(k)
      var r = 0
      while (r < ranked.length) {
        out += ((qid, ranked(r)._1, ranked(r)._2, (r + 1).toLong, ranked(r)._3))
        r += 1
      }
      qi += 1
    }
    Right(out.result())
  }
}

/** ZERO-SPARK-JOB ADC shortlisting over the IVFPQ encoded layout — the
  * `LocalIvfServe` architecture on the quantized tier, where it matters
  * even more at scale: a cached cell holds CODES (m bytes of payload per
  * row, not dim floats), so the same byte budget keeps ~dim·4/m times more
  * corpus resident. Per query: probe via the driver-resident coarse
  * centroids (`Model.coarse.probe`, cos-normalizing the query exactly like
  * `IvfPq.search`), build the m×k ADC table with the SAME
  * `QuantKernels.adcTable` kernel `search` broadcasts, score each cached
  * code row with the same double-accumulated table-lookup sum as the
  * codegen `AdcLookupSum`, and rank (distance asc, id asc UTF-8). The
  * caller (Engine) re-ranks the tiny shortlist exactly against true vectors
  * fetched through the zero-job point reads — `LocalPqParitySpec` gates the
  * end-to-end equality with `IvfPq.search`. Code cells are resident per
  * layout generation, preloaded, carried and rebuilt exactly like
  * `LocalIvfServe`'s vector cells: no cell load launches a Spark job.
  */
object LocalPqServe extends LocalCellServe {

  /** One cached cell: ids + PQ codes as parallel driver arrays. */
  private final case class Cell(ids: Array[Any], codes: Array[Array[Int]]) {
    def residentBytes: Long = {
      val m = if (codes.nonEmpty && codes(0) != null) codes(0).length else 0
      // int codes + array/object headers + boxed id estimate per row
      ids.length.toLong * (m.toLong * 4L + 96L)
    }
  }

  private def cellOf(parts: Seq[(LayoutFile, Array[Int])]): Cell = {
    val rows = parts.flatMap { case (f, rs) => rs.iterator.map(i => (f.ids(i), f.codes(i))) }
    Cell(rows.map(_._1).toArray, rows.map(_._2).toArray)
  }

  /** Byte budget knob (codes are tiny — the default holds ~100M rows).
    * Bounds the cell cache and the decoded-file memo each.
    */
  @volatile var maxLocalPqBytes: Long = 1L << 30

  private val cache = new LocalCellCache[Cell](256, _.residentBytes,
    () => maxLocalPqBytes)
  protected val files = new LayoutFiles(() => maxLocalPqBytes)
  protected val cellColumns: Seq[String] = Seq("id", "version", "codes")

  def metrics: Map[String, Long] =
    cache.metrics("pq_local", maxLocalPqBytes) ++ files.metrics("pq_local")

  def preload(path: String, stamp: Long, nCells: Int): Unit =
    LocalCellResolve.preload[Cell](cache, files, path, stamp, path, "cluster_id",
      nCells, maxLocalPqBytes, cellColumns, cellOf, Some(s"$path/_tombstones"))

  private[graft] def dropCells(layoutIdPrefix: String): Unit = {
    cache.drop(layoutIdPrefix); files.drop(layoutIdPrefix)
  }

  private[graft] def clearCells(): Unit = { cache.clear(); files.clear() }

  /** The ADC SHORTLIST — (qid, id, adcDistance, rnk) rows, `shortlistK` per
    * query — from driver-cached code cells. The exact re-rank (and with it
    * the final result) is the caller's: it owns the point-read path to the
    * true vectors. Left = fall back to the distributed plan (oversized
    * probed cell, unmapped id type).
    */
  def adcShortlistLocalRows(
      path: String,
      stamp: Long,
      model: IvfPq.Model,
      queries: Seq[(Any, Array[Float])],
      shortlistK: Int,
      nprobe: Int,
      eligible: Option[Set[Any]] = None,
      maxQueries: Int = 64): Either[Decline, Seq[(Any, Any, Double, Long)]] = {
    require(shortlistK > 0, s"shortlistK must be positive, got $shortlistK")
    require(queries.length <= maxQueries,
      s"adcShortlistLocalRows is the driver-serve path (${queries.length} " +
        s"queries > $maxQueries); use IvfPq.search/searchDistributed for batches")
    val isCos = model.space == graft.core.SpaceType.Cos
    val qvs = queries.toArray.map { case (qid, raw) =>
      (qid, if (isCos) IvfPq.l2NormalizeLocal(raw) else raw)
    }
    val probed: Array[Seq[Int]] =
      qvs.map(q => model.coarse.probe(q._2, nprobe))
    val needed = probed.flatten.distinct.sorted
    val held = LocalCellResolve.resolve[Cell](cache, files, path, stamp,
      needed, maxLocalPqBytes, cellColumns, cellOf, _.ids) match {
      case Right(h) => h
      case Left(d) => return Left(d)
    }
    val out = Seq.newBuilder[(Any, Any, Double, Long)]
    var qi = 0
    while (qi < qvs.length) {
      val (qid, qv) = qvs(qi)
      val hits = scala.collection.mutable.ArrayBuffer.empty[(Any, Double)]
      probed(qi).foreach { c =>
        held.getOrElse(c, None).foreach { cell =>
          val tab = graft.kernels.QuantKernels.adcTable(qv, model.coarse.centroids(c),
            model.codebooks, model.adcMode)
          val k = model.k
          var i = 0
          while (i < cell.ids.length) {
            val id = cell.ids(i)
            if (eligible.forall(_.contains(id))) {
              // same double accumulation of float lookups as AdcLookupSum
              val codes = cell.codes(i)
              var s = 0.0
              var j = 0
              while (j < codes.length) { s += tab(j * k + codes(j)); j += 1 }
              hits += ((id, s))
            }
            i += 1
          }
        }
      }
      val ranked = hits.toArray
        .sortWith((a, b) => a._2 < b._2 || (a._2 == b._2 && GraphAnn.idLt(a._1, b._1)))
        .take(shortlistK)
      var r = 0
      while (r < ranked.length) {
        out += ((qid, ranked(r)._1, ranked(r)._2, (r + 1).toLong))
        r += 1
      }
      qi += 1
    }
    Right(out.result())
  }
}
