package graft

import java.nio.file.Files

import graft.api.Engine
import graft.core._

/** Regressions for the round-1 self-review findings. */
class ReviewRegressionSpec extends SparkSpec {

  private def freshEngine(): (Engine, String) = {
    val root = Files.createTempDirectory("rr").toString
    (new Engine(spark, root), root)
  }

  test("drop + recreate collection does not serve the old incarnation's cached results") {
    val (e, _) = freshEngine()
    e.createCollection(CollectionConfig("c", 2, IndexType.Flat))
    e.upsertDocument("c", Document("old", Array(0f, 0f)))
    val r1 = e.searchDocuments("c", Array(0f, 0f), 1)
    assert(r1.head.id === "old")
    e.dropCollection("c")
    e.createCollection(CollectionConfig("c", 2, IndexType.Flat))
    e.upsertDocument("c", Document("new", Array(0f, 0f)))
    val r2 = e.searchDocuments("c", Array(0f, 0f), 1) // identical key shape pre-fix
    assert(r2.head.id === "new")
  }

  test("catalog round-trips params containing commas, colons, quotes") {
    val (e, _) = freshEngine()
    val params = Map("desc" -> """a,b:c "quoted" [1,2]""", "name" -> "not-the-collection")
    e.createCollection(CollectionConfig("tricky", 4, IndexType.Flat,
      SpaceType.L2, params))
    val got = e.getCollection("tricky").get
    assert(got.name === "tricky")
    assert(got.dimension === 4)
    assert(got.params === params)
  }

  test("setParams validates nprobe against the persisted nlist after a restart") {
    val (e1, root) = freshEngine()
    e1.createCollection(CollectionConfig("iv", 2, IndexType.IvfFlat))
    e1.batchUpsertDocuments("iv",
      (0 until 20).map(i => Document(i.toString, Array(i.toFloat, 0f))))
    e1.buildIndex("iv", nlist = 4)
    // fresh engine = restart: model only on disk
    val e2 = new Engine(spark, root)
    intercept[IllegalArgumentException](e2.setParams("iv", Map("nprobe" -> 999)))
    e2.setParams("iv", Map("nprobe" -> 4)) // valid bound still accepted
  }

  test("drop + recreate hnsw collection does not serve the old incarnation's cached graphs") {
    val (e, _) = freshEngine()
    e.createCollection(CollectionConfig("g", 2, IndexType.Hnsw))
    e.batchUpsertDocuments("g",
      (0 until 20).map(i => Document(s"old$i", Array(i.toFloat, 0f))))
    e.buildIndex("g")
    assert(e.searchDocuments("g", Array(5f, 0f), 1).head.id === "old5")
    e.dropCollection("g")
    // same name, same doc count → same layout path/version/partition shape
    e.createCollection(CollectionConfig("g", 2, IndexType.Hnsw))
    e.batchUpsertDocuments("g",
      (0 until 20).map(i => Document(s"new$i", Array(i.toFloat, 0f))))
    e.buildIndex("g")
    assert(e.searchDocuments("g", Array(5f, 0f), 1).head.id === "new5",
      "recreated collection must not serve the dropped incarnation's graphs")
  }

  test("late out-of-order event must not shrink a session's span (Sessionize)") {
    import graft.streaming.Sessionize
    import org.apache.spark.sql.streaming.TestGroupState
    // unit-level: drive updateUser directly with the public test harness
    def ev(min: Long) = Sessionize.Event(1L,
      new java.sql.Timestamp(min * 60000L), 1.0)
    // batch 1: events at t=0..10 → end=10min
    import org.apache.spark.api.java.Optional
    val s1 = TestGroupState.create[Sessionize.SessionState](
      Optional.empty[Sessionize.SessionState](),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      0L, Optional.of(0L), false)
    Sessionize.updateUser(1L, Iterator(ev(0), ev(10)), s1, 30 * 60000L)
    assert(s1.get.end === 10 * 60000L)
    // batch 2: late event at t=9 must NOT regress end
    val s2 = TestGroupState.create[Sessionize.SessionState](
      Optional.of(s1.get),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      0L, Optional.of(0L), false)
    Sessionize.updateUser(1L, Iterator(ev(9)), s2, 30 * 60000L)
    assert(s2.get.end === 10 * 60000L, "late event regressed session end")
    assert(s2.get.n === 3)
  }

  test("ivfpq with an unsupported space errors at buildIndex instead of wrong rankings") {
    val (e, _) = freshEngine()
    // l2/ip/cos all have ADC formulations now; hamming has none → hard error
    e.createCollection(CollectionConfig("pq", 8, IndexType.IvfPq, SpaceType.Hamming))
    e.batchUpsertDocuments("pq",
      (0 until 20).map(i => Document(i.toString, Array.fill(8)(i.toFloat))))
    val ex = intercept[IllegalArgumentException](e.buildIndex("pq", nlist = 2))
    assert(ex.getMessage.contains("l2") || ex.getMessage.contains("ip"))
  }

  test("LocalCellCache: a rebuild's new generation evicts the dead generation's cells") {
    val cache = new graft.operators.LocalCellCache[Array[Int]](
      maxCells = 256, bytesOf = _.length.toLong * 4, maxBytes = () => 1L << 20)
    def insert(key: (String, Long, Int), cell: Some[Array[Int]]): Unit = cache.insert(key._1,
      key._3, cache.entryOf(key._2, cell, Vector.empty, Array.emptyLongArray, Map.empty))
    // generation g1 of a layout: two cells resident
    insert(("/r/c/index/ivf_layout_g1", 7L, 0), Some(Array(1, 2)))
    insert(("/r/c/index/ivf_layout_g1", 7L, 1), Some(Array(3)))
    assert(cache.size === 2)
    val before = cache.residentBytes
    assert(before > 0)
    // same path+stamp, different cell: must NOT evict its sibling
    assert(cache.get(("/r/c/index/ivf_layout_g1", 7L, 0)).isDefined)
    // a buildIndex flip: new _g2 path AND new stamp — the whole g1
    // generation must die on insert (it previously stranded in the byte
    // budget because eviction matched the exact path only)
    insert(("/r/c/index/ivf_layout_g2", 9L, 0), Some(Array(4, 5, 6)))
    assert(cache.size === 1)
    assert(cache.get(("/r/c/index/ivf_layout_g1", 7L, 0)).isEmpty)
    assert(cache.get(("/r/c/index/ivf_layout_g1", 7L, 1)).isEmpty)
    assert(cache.get(("/r/c/index/ivf_layout_g2", 9L, 0)).isDefined)
    assert(cache.residentBytes === 12L)
    // a DIFFERENT tier's layout is untouched by the flip
    insert(("/r/c/index/pq_layout_g1", 7L, 0), Some(Array(9)))
    assert(cache.get(("/r/c/index/ivf_layout_g2", 9L, 0)).isDefined)
    assert(cache.size === 2)
  }
}
