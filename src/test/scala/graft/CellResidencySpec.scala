package graft

import graft.api.{Engine, ResultCache}
import graft.core._
import graft.core.LocalRunWriter.{IntsCol, LayoutRow}
import graft.operators.{GraphAnn, IvfIndex, LocalCellCache, LocalIvfServe, LocalPqServe}

/** Served cells stay resident per layout generation: a build or compaction
  * preloads them, a maintained write carries the cells it left alone to
  * its stamp and rebuilds the rest from files already decoded, and the
  * runs the engine writes are registered decoded. Every such shortcut must
  * equal a cold decode at the same stamp.
  */
class CellResidencySpec extends SparkSpec {
  import CellResidencySpec.Served

  private val served = Seq(
    Served("ivf_flat", IndexType.IvfFlat, Map.empty, Map("nprobe" -> 4), "ivf_local",
      () => LocalIvfServe.metrics, () => LocalIvfServe.clearCells()),
    Served("ivfpq", IndexType.IvfPq, Map("m" -> "2"), Map("nprobe" -> 4), "pq_local",
      () => LocalPqServe.metrics, () => LocalPqServe.clearCells()),
    Served("routed hnsw", IndexType.Hnsw, Map("routeNlist" -> "4"), Map("routeNprobe" -> 4),
      "local_serve", () => GraphAnn.localServeMetrics, () => GraphAnn.GraphCache.clear()))

  private def partitionDirs(layout: String): Int =
    Seq("cluster_id", "part").map(LayoutFiles.partitions(layout, _).size).sum

  for (t <- served) test(s"${t.name}: a build preloads every cell; carried cells, extended " +
      "sidecars and registered runs equal a cold decode through overwrites, deletes and flips") {
    val e = new Engine(spark, testRoot("resident"))
    val dim = 4
    val rnd = new scala.util.Random(71)
    val docs = (0 until 80).map(i => Document(s"d$i", Array.fill(dim)(rnd.nextFloat())))
    e.createCollection(CollectionConfig("c", dim, t.indexType, SpaceType.L2, params = t.create))
    e.batchUpsertDocuments("c", docs)
    val qs = (0 until 6).map(i => (s"q$i", Array.fill(dim)(rnd.nextFloat())))
    def hits(): Seq[SearchHit] = e.searchHits("c", qs, 5)
      .fold(d => fail(s"${t.name} declined: $d"), identity)
    def m(k: String): Long = t.metrics()(s"${t.prefix}_$k")

    t.cold() // room for every cell, whatever earlier suites left resident
    val preloaded0 = m("cells_preloaded")
    e.buildIndex("c", nlist = 4)
    e.setParams("c", t.params) // every cell probed
    assert(m("cells_preloaded") - preloaded0 === partitionDirs(e.layoutDir("c").get),
      "the build must preload every cell of the new generation")
    val (loads0, decodes0) = (m("loads"), m("file_decodes"))
    hits()
    assert(m("loads") === loads0 && m("file_decodes") === decodes0,
      "the first search after a build must find every cell resident")

    val writes = Seq[(String, () => Unit)](
      "fresh upsert" -> (() => e.upsertDocument("c", Document("fresh", qs(0)._2.clone()))),
      "overwrite" -> (() => e.upsertDocument("c", Document("d3", qs(1)._2.clone()))),
      "batch of an overwrite and an insert" -> (() => e.batchUpsertDocuments("c",
        Seq(Document("d5", qs(2)._2.clone()), Document("fresh2", qs(3)._2.clone())))),
      "delete" -> (() => e.deleteDocument("c", "d7")),
      "delete of a maintained insert" -> (() => e.deleteDocument("c", "fresh")))
    for ((what, write) <- writes) {
      val (decodes, carried) = (m("file_decodes"), m("cells_carried"))
      write()
      val warm = hits()
      assert(m("file_decodes") === decodes,
        s"after the $what: the search decoded files the engine had just written")
      // graph cells hang off the adjacency epoch, which maintained writes keep
      if (t.indexType != IndexType.Hnsw)
        assert(m("cells_carried") > carried, s"after the $what: no untouched cell was carried")
      t.cold()
      assert(warm === hits(), s"after the $what: resident cells ≢ a cold decode")
    }
    val live = hits()
    assert(live.exists(_.id == "fresh2") && !live.exists(h => h.id == "fresh" || h.id == "d7"))

    val flips = (if (t.indexType == IndexType.Hnsw) Nil
      else Seq[(String, () => Unit)]("compaction" -> (() => assert(e.compactLayout("c"))))) :+
      ("rebuild" -> (() => e.buildIndex("c", nlist = 4)))
    for ((what, flip) <- flips) {
      val (preloaded, loads) = (m("cells_preloaded"), m("loads"))
      flip()
      assert(m("cells_preloaded") > preloaded, s"the $what preloaded nothing")
      val warm = hits()
      assert(m("loads") === loads, s"the first search after the $what loaded cells")
      t.cold()
      assert(warm === hits(), s"after the $what: preloaded cells ≢ a cold decode")
    }
  }

  for (t <- served) test(s"${t.name}: a trained cell k-means left empty is held at the build; " +
      "a search probing it loads and lists nothing") {
    val e = new Engine(spark, testRoot("resident-empty"))
    // three distinct vectors for four cells: the trainer pads its start with
    // a repeat, whose cell the (distance, index) tie-break leaves without rows
    val corners = Seq(Array(0f, 0f, 0f, 0f), Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    e.createCollection(CollectionConfig("c", 4, t.indexType, SpaceType.L2, params = t.create))
    e.batchUpsertDocuments("c", (0 until 30).map(i => Document(s"d$i", corners(i % 3))))
    def m(k: String): Long = t.metrics()(s"${t.prefix}_$k")
    t.cold()
    e.buildIndex("c", nlist = 4)
    e.setParams("c", t.params) // every cell probed
    assert(partitionDirs(e.layoutDir("c").get) === 3, "k-means left no cell empty")
    val (hits, misses, loads) = (m("hits"), m("misses"), m("loads"))
    val got = e.searchHits("c", Seq(("q", Array(0.1f, 0.1f, 0f, 0f))), 3)
      .fold(d => fail(s"${t.name} declined: $d"), identity)
    assert(got.size === 3)
    assert(m("misses") === misses && m("loads") === loads,
      "probing the empty cell listed or loaded it")
    assert(m("hits") === hits + 4, "every probed cell, the empty one too, must be a hit")
  }

  test("a cell file holding rows above the stamp (a racing writer) shows them only once " +
      "the stamp covers them, carried or cold alike") {
    val dir = testRoot("resident-race") + "/index/ivf_flat_layout_g1"
    val model = IvfIndex.Model(Array(Array(0f, 0f), Array(10f, 10f)), SpaceType.L2)
    def row(id: String, x: Float, y: Float, cell: Int) =
      LayoutRow(id, Seq(x, y), Map.empty, 0L, Some(cell), Nil)
    LocalRunWriter.writeLayoutRuns(dir, Seq(row("a", 0f, 0f, 0), row("b", 1f, 0f, 0),
      row("c", 10f, 10f, 1), row("d", 11f, 10f, 1)), 1L)
    val qs = Seq[(Any, Array[Float])](("q0", Array(0f, 0f)), ("q1", Array(10f, 10f)))
    def serve(stamp: Long) = LocalIvfServe.searchPointLocalRows(dir, stamp, model, qs, 3, 2)
      .fold(d => fail(s"declined: $d"), identity)
    def cold(stamp: Long) = { LocalIvfServe.dropCells(dir); serve(stamp) }
    def ids(rows: Seq[(Any, Any, Double, Long)]) = rows.map(_._2).toSet
    assert(ids(serve(1L)) === Set("a", "b", "c", "d"))
    // a writer at version 3 lands its row before the stamp reaches it; a
    // delete at version 2 shadows "a"
    LocalRunWriter.writeLayoutRuns(dir, Seq(row("e", 10f, 11f, 1)), 3L)
    LocalRunWriter.writeTombstoneRun(s"$dir/_tombstones", Seq("a"), 2L)
    val at2 = serve(2L)
    assert(ids(at2) === Set("b", "c", "d"), "a row above the stamp or a shadowed row was served")
    assert(at2 === cold(2L))
    val carried = LocalIvfServe.metrics("ivf_local_cells_carried")
    val at3 = serve(3L)
    assert(ids(at3) === Set("b", "c", "d", "e"), "the row the stamp now covers was not served")
    assert(LocalIvfServe.metrics("ivf_local_cells_carried") === carried + 1,
      "only the cell the writer left alone may be carried")
    assert(at3 === cold(3L))
  }

  test("registered runs equal their cold decode") {
    val dir = testRoot("resident-reg")
    val files = new LayoutFiles(() => 1L << 30)
    def opt[T](a: Array[T]) = Option(a).map(_.toSeq.map {
      case x: Array[_] => Option(x).map(_.toSeq)
      case x => x
    })
    def same(a: LayoutFile, b: LayoutFile): Unit = {
      assert(a.idType === b.idType)
      assert(a.ids.toSeq === b.ids.toSeq)
      for ((x, y) <- Seq(opt(a.versions) -> opt(b.versions), opt(a.vectors) -> opt(b.vectors),
          opt(a.codes) -> opt(b.codes), opt(a.ntoks) -> opt(b.ntoks), opt(a.ords) -> opt(b.ords)))
        assert(x === y)
      assert(a.links === null && b.links === null)
    }
    val rows = Seq(
      LayoutRow("x", Seq(1f, 2f), Map("__ntok" -> "3", "tag" -> "t"), 0L, Some(1),
        Seq("codes" -> IntsCol(Array(4, 5)))),
      LayoutRow("y", Seq(3f, 4f), Map.empty, 1L, Some(1), Seq("codes" -> IntsCol(Array(6, 7)))))
    val Seq((f, written)) = LocalRunWriter.writeLayoutRuns(s"$dir/layout", rows, 9L)
    for (cols <- Seq(Seq("id", "version", "vector", "params"), Seq("id", "version", "codes")))
      same(LayoutFiles.ofLayoutRows(written, 9L, cols), files.file(f, cols))
    val t = LocalRunWriter.writeTombstoneRun(s"$dir/_tombstones", Seq("x", "z"), 11L)
    same(LayoutFiles.ofTombstones(Seq("x", "z"), 11L), files.file(t, LayoutFiles.TombCols))
    val delta = Seq(("p", Seq(1f, 0f)), ("q", Seq(0f, 1f)))
    val d = LocalRunWriter.writeDeltaRun(s"$dir/_delta", delta, 12L)
    same(LayoutFiles.ofDelta(delta, 12L), files.file(d, LayoutFiles.DeltaCols))
  }

  test("sidecar aggregates extended by new files equal a fold from scratch, racing rows included") {
    val dir = testRoot("resident-side") + "/_tombstones"
    val warm = new LayoutFiles(() => 1L << 30)
    def cold(stamp: Long) = new LayoutFiles(() => 1L << 30).tombstones(dir, stamp)
    LocalRunWriter.writeTombstoneRun(dir, Seq("a", "b"), 2L)
    assert(warm.tombstones(dir, 2L) === Map("a" -> 2L, "b" -> 2L))
    LocalRunWriter.writeTombstoneRun(dir, Seq("b", "c"), 4L)
    // a racing run above the stamp: folded in only once the stamp covers it
    LocalRunWriter.writeTombstoneRun(dir, Seq("d"), 6L)
    for (stamp <- Seq(4L, 5L, 6L, 7L))
      assert(warm.tombstones(dir, stamp) === cold(stamp), s"stamp $stamp")
    assert(warm.tombstones(dir, 6L) === Map("a" -> 2L, "b" -> 4L, "c" -> 4L, "d" -> 6L))
    val deltaDir = testRoot("resident-delta") + "/_delta"
    val v = Seq(1f, 1f)
    LocalRunWriter.writeDeltaRun(deltaDir, Seq(("p", v)), 3L)
    warm.deltaRows(deltaDir, 3L)
    LocalRunWriter.writeDeltaRun(deltaDir, Seq(("q", v)), 5L)
    def rows(fs: LayoutFiles, s: Long) = fs.deltaRows(deltaDir, s).map(r => (r._1, r._3)).toSet
    assert(rows(warm, 5L) === rows(new LayoutFiles(() => 1L << 30), 5L))
    assert(rows(warm, 5L) === Set(("p", 3L), ("q", 5L)))
  }

  test("preload stops at the entry and byte bounds without evicting") {
    val layout = "/r/c/index/ivf_flat_layout_g1"
    def entry[C](cache: LocalCellCache[C], cell: C) =
      cache.entryOf(5L, Some(cell), Vector.empty, Array.emptyLongArray, Map.empty)
    val byCount = new LocalCellCache[Array[Int]](3, _.length.toLong * 4, () => 1L << 20)
    byCount.insert("/r/other/index/pq_layout", 0, entry(byCount, Array(1)))
    assert(byCount.preload(layout, 0, entry(byCount, Array(1))))
    assert(byCount.preload(layout, 1, entry(byCount, Array(1))))
    assert(!byCount.preload(layout, 2, entry(byCount, Array(1))), "past the entry bound")
    assert(byCount.size === 3 && byCount.evictions.get === 0)
    assert(byCount.get(("/r/other/index/pq_layout", 5L, 0)).isDefined,
      "a preload evicted a live cell of another layout")
    val byBytes = new LocalCellCache[Array[Int]](256, _.length.toLong * 4, () => 40L)
    assert(byBytes.preload(layout, 0, entry(byBytes, Array.fill(4)(0))))
    assert(byBytes.preload(layout, 1, entry(byBytes, Array.fill(4)(0))))
    assert(!byBytes.preload(layout, 2, entry(byBytes, Array.fill(4)(0))), "past the byte bound")
    assert(byBytes.residentBytes === 32L && byBytes.evictions.get === 0)
    assert(byBytes.metrics("t", 40L)("t_cells_preloaded") === 2L)

    // end to end: a build under a byte budget smaller than its layout
    // preloads a prefix of the cells and evicts nothing
    val e = new Engine(spark, testRoot("resident-bound"))
    val rnd = new scala.util.Random(3)
    e.createCollection(CollectionConfig("c", 4, IndexType.IvfFlat, SpaceType.L2))
    e.batchUpsertDocuments("c", (0 until 80).map(i => Document(s"d$i", Array.fill(4)(rnd.nextFloat()))))
    val saved = LocalIvfServe.maxLocalIvfBytes
    LocalIvfServe.clearCells()
    try {
      LocalIvfServe.maxLocalIvfBytes = 6000L // ~half of the 80 × 116-byte rows
      val m0 = LocalIvfServe.metrics
      e.buildIndex("c", nlist = 4)
      val m1 = LocalIvfServe.metrics
      val n = m1("ivf_local_cells_preloaded") - m0("ivf_local_cells_preloaded")
      assert(n >= 1 && n < partitionDirs(e.layoutDir("c").get), s"preloaded $n cells")
      assert(m1("ivf_local_evictions") === m0("ivf_local_evictions"))
      assert(m1("ivf_local_bytes") <= 6000L && m1("ivf_local_file_bytes") <= 6000L)
    } finally { LocalIvfServe.maxLocalIvfBytes = saved; LocalIvfServe.clearCells() }
  }

  test("ResultCache.key: a fixed input keeps its key string") {
    assert(new ResultCache().key("c", 7L, 3L, Array(1.5f, -2f, 0f), 10) ===
      "4064eb7ae081a5a02a1008bcd3e1547b87ffabc98211388c928fcc5cd249bd71")
  }
}

object CellResidencySpec {
  /** A served tier: how to create, build and probe it, its metrics prefix
    * and map, and how to drop its resident state (a cold start).
    */
  final case class Served(name: String, indexType: IndexType,
      create: Map[String, String], params: Map[String, Int], prefix: String,
      metrics: () => Map[String, Long], cold: () => Unit)
}
