package graft

import java.nio.file.Files

import graft.api.Engine
import graft.core._
import graft.testfs.FaultFs

/** The round-11 ControlFs port, exercised on a REAL non-`file:` Hadoop
  * scheme (`graftfs://`, a RawLocalFileSystem test double for an
  * hdfs://-class root): the full Engine/DocStore lifecycle — counters,
  * generation flips, layout stamps, intent markers, model snapshots,
  * driver-direct run writes and point reads — runs with every control file
  * living on the non-local FileSystem, plus fault-injected replays of the
  * commit crash windows on `faultfs://`.
  */
class HadoopControlPlaneSpec extends SparkSpec {

  private def graftRoot(prefix: String): String =
    s"graftfs://${Files.createTempDirectory(prefix)}"
  private def faultRoot(prefix: String): String =
    s"faultfs://${Files.createTempDirectory(prefix)}"

  test("manifest counters: init / strict read / commit / GC / same-value collision is loud") {
    val root = graftRoot("cfs-counter")
    val cfs = ControlFs.forRoot(root)
    assert(cfs.isInstanceOf[HadoopControlFs])
    val c = s"$root/x/_version"
    assert(cfs.counterRead(c) === None) // never initialized
    cfs.counterInit(c)
    assert(cfs.counterRead(c) === Some(0L))
    cfs.counterInit(c, 99L) // second init is a no-op
    assert(cfs.counterRead(c) === Some(0L))
    (1L to 12L).foreach(v => cfs.counterCommit(c, v))
    assert(cfs.counterRead(c) === Some(12L))
    // GC keeps a bounded trailing window of manifest entries
    val entries = cfs.listNames(s"$c.d")
    assert(entries.nonEmpty && entries.size <= 10, s"entries: $entries")
    // conditional-put: a racing writer of an already-committed value
    // collides loudly instead of silently last-writer-winning
    intercept[java.io.IOException](cfs.counterCommit(c, 12L))
    assert(cfs.counterRead(c) === Some(12L))
  }

  test("full engine lifecycle on a graftfs:// root — CRUD, LWW, point reads, IVF build/serve, compaction, drop") {
    val root = graftRoot("cfs-engine")
    val e = new Engine(spark, root)
    e.createCollection(CollectionConfig("c", 3, IndexType.IvfFlat))
    assert(e.listCollections() === Seq("c"))
    // driver-sized upserts take the LocalRunWriter path THROUGH the
    // Hadoop FS (scheme-aware parquet-mr write + fs rename)
    (0 until 30).foreach(i =>
      e.upsertDocument("c", Document(f"d$i%03d",
        Array(i.toFloat, 0f, 0f), Map("tag" -> (if (i % 2 == 0) "even" else "odd")))))
    // LWW overwrite + tombstone
    e.upsertDocument("c", Document("d001", Array(100f, 0f, 0f)))
    e.deleteDocument("c", "d002")
    // driver-direct point reads list runs through the Hadoop FS
    assert(e.getDocument("c", "d001").get.vector(0) === 100f)
    assert(e.getDocument("c", "d002") === None)
    // buildIndex: KMeans train, model snapshot (ControlFs atomicWrite),
    // layout write, generation counter, layout_version stamp — all on
    // the non-local FS
    e.buildIndex("c", nlist = 4)
    val served = e.searchDocuments("c", Array(5f, 0f, 0f), 3)
    assert(served.map(_.id) === Seq("d005", "d004", "d006"))
    // the layout stamp and generation pointer really live on the root
    val cfs = ControlFs.forRoot(root)
    assert(cfs.readLongSafe(s"$root/c/index/layout_version").isDefined)
    // a filtered search (pre/post-filter heuristics) stays correct
    val filtered = e.searchDocuments("c", Array(5f, 0f, 0f), 2,
      filter = Some(org.apache.spark.sql.functions.col("params")("tag") === "odd"))
    // d003/d007 tie at distance 4 — id asc breaks it
    assert(filtered.map(_.id) === Seq("d005", "d003"))
    // store compaction: new data generation + authoritative pointer flip
    e.compact("c")
    assert(cfs.counterRead(s"$root/c/data_gen") === Some(1L))
    assert(e.getDocument("c", "d001").get.vector(0) === 100f)
    assert(e.getDocument("c", "d002") === None)
    assert(e.documents("c").count() === 29)
    // maintained ingest after the build: layout append + stamp advance
    e.upsertDocument("c", Document("d900", Array(5.5f, 0f, 0f)))
    val after = e.searchDocuments("c", Array(5f, 0f, 0f), 3)
    assert(after.map(_.id) === Seq("d005", "d900", "d004"))
    // snapshot reload on a fresh engine over the same root (S7/S8)
    val e2 = new Engine(spark, root)
    assert(e2.searchDocuments("c", Array(5f, 0f, 0f), 3).map(_.id) ===
      Seq("d005", "d900", "d004"))
    assert(e.dropCollection("c"))
    assert(e.listCollections().isEmpty)
  }

  test("fault: a version-counter commit failure is LOUD and uncommitted — never a torn counter") {
    val root = faultRoot("cfs-fault-counter")
    val e = new Engine(spark, root)
    e.createCollection(CollectionConfig("c", 2, IndexType.Flat))
    e.upsertDocument("c", Document("a", Array(1f, 0f)))
    val cfs = ControlFs.forRoot(root)
    assert(cfs.counterRead(s"$root/c/_version") === Some(1L))
    // the NEXT manifest entry (v2) fails at the FileSystem boundary
    FaultFs.failNext("create", "_version.d/v00000000000000000002")
    try {
      intercept[Exception](e.upsertDocument("c", Document("b", Array(2f, 0f))))
      // loud + unaccepted: the counter still reads 1 — no torn state
      assert(cfs.counterRead(s"$root/c/_version") === Some(1L))
      // the retry commits cleanly and the store reads consistently
      e.upsertDocument("c", Document("b", Array(2f, 0f)))
      assert(cfs.counterRead(s"$root/c/_version") === Some(2L))
      assert(e.getDocument("c", "b").get.vector(0) === 2f)
      assert(e.documents("c").count() === 2)
    } finally FaultFs.disarm()
  }

  test("fault: a torn layout-stamp rename leaves the layout STALE — searches fall back, never lie") {
    val root = faultRoot("cfs-fault-stamp")
    val e = new Engine(spark, root)
    e.createCollection(CollectionConfig("c", 2, IndexType.IvfFlat))
    (0 until 12).foreach(i =>
      e.upsertDocument("c", Document(f"d$i%02d", Array(i.toFloat, 0f))))
    // buildIndex's final stamp write dies at the rename (the marker's
    // tmp file lands; the rename to layout_version never happens — the
    // copy+delete torn-rename window on an object store)
    FaultFs.failNext("rename", "index/layout_version")
    try {
      intercept[Exception](e.buildIndex("c", nlist = 3))
      val cfs = ControlFs.forRoot(root)
      assert(cfs.readLongSafe(s"$root/c/index/layout_version").isEmpty,
        "a torn stamp must read as absent (stale), not as current")
      // searches FALL BACK to the live corpus and stay exactly correct
      val got = e.searchDocuments("c", Array(5f, 0f), 3)
      assert(got.map(_.id) === Seq("d05", "d04", "d06"))
      // the next build re-stamps and the layout serves again
      e.buildIndex("c", nlist = 3)
      assert(cfs.readLongSafe(s"$root/c/index/layout_version").isDefined)
      assert(e.searchDocuments("c", Array(5f, 0f), 3).map(_.id) ===
        Seq("d05", "d04", "d06"))
    } finally FaultFs.disarm()
  }

  test("fault: a torn model-snapshot write keeps the previous snapshot readable (atomic replace)") {
    val root = faultRoot("cfs-fault-snap")
    val e = new Engine(spark, root)
    e.createCollection(CollectionConfig("c", 2, IndexType.IvfFlat))
    (0 until 10).foreach(i =>
      e.upsertDocument("c", Document(s"d$i", Array(i.toFloat, 0f))))
    e.buildIndex("c", nlist = 2)
    val snap = s"$root/c/index/ivf.snapshot"
    val before = ModelStore.loadIvf(snap)
    assert(before.isDefined)
    e.upsertDocument("c", Document("d99", Array(99f, 0f)))
    FaultFs.failNext("rename", "ivf.snapshot")
    try {
      intercept[Exception](e.buildIndex("c", nlist = 3))
      // the OLD snapshot is intact (tmp+rename, never in-place truncation)
      val after = ModelStore.loadIvf(snap)
      assert(after.isDefined)
      assert(after.get.centroids.length === before.get.centroids.length)
    } finally FaultFs.disarm()
  }
}
