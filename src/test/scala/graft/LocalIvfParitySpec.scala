package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.Engine
import graft.core.{CollectionConfig, Document, IndexType, SpaceType}

/** Driver-local IVF point serving (`LocalIvfServe`) must be
  * bit-interchangeable with the distributed pruned plan: same probe lists,
  * same kernels, same (distance asc, id asc) rank with UTF-8-byte id
  * tie-order, same tombstone shadowing (cells collect from the same
  * tombstone-applied frame), and clean fallback (oversized budget) that
  * never changes results. The single-query engine path routes local; a
  * duplicate-qid batch routes distributed — comparing the two IS the
  * parity gate.
  */
class LocalIvfParitySpec extends SparkSpec {

  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** (id, distance, rnk) rows of one query from a search result frame. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame, qid: String): Seq[(String, Double, Long)] =
    df.filter(col("query_id") === qid)
      .select(col("id").cast("string"), col("distance"), col("rnk"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._3).toSeq

  /** Same queries through BOTH engine routes: `searchVectors` with ONE
    * query serves locally; padding the set past 16 forces the distributed
    * plan for every query including ours.
    */
  private def bothPaths(e: Engine, coll: String, qid: String,
      qv: Array[Float], k: Int): (Seq[(String, Double, Long)], Seq[(String, Double, Long)]) = {
    val local = rowsOf(e.searchVectors(coll, Seq((qid, qv)), k), qid)
    // duplicate "__pad" qids DECLINE the local route (the window plans
    // merge a duplicated qid's rows; the per-query local loop cannot) —
    // the reliable distributed-forcing trick now that >16-query batches
    // AUTO-SPLIT onto the local serve instead of falling off it
    val padded = (0 until 2).map(_ => ("__pad", qv)) :+ ((qid, qv))
    val dist = rowsOf(e.searchVectors(coll, padded, k), qid)
    (local, dist)
  }

  test("local ≡ distributed on an ivf_flat collection, incl. exact-tie UTF-8 id order") {
    val dir = testRoot("ivflocal")
    val e = new Engine(spark, dir)
    val dim = 6
    val rnd = new scala.util.Random(31)
    // U+FFFD (UTF-8 EF BF BD) sorts BELOW the emoji (F0 9F 98 80) in UTF-8
    // bytes, but its single code unit 0xFFFD sorts ABOVE the emoji's lead
    // surrogate 0xD83D in UTF-16 — identical vectors force the tie onto
    // exactly the edge where the two orders disagree
    val tieA = "�-tie"
    val tieB = "😀-tie"
    val tieVec = Array.fill(dim)(0.5f)
    val docs = (0 until 100).map(i =>
      Document(s"d$i", Array.fill(dim)(rnd.nextFloat()), Map("tag" -> (i % 3).toString))) ++
      Seq(Document(tieA, tieVec, Map("tag" -> "9")),
        Document(tieB, tieVec, Map("tag" -> "9")))
    e.createCollection(CollectionConfig("c", dim, IndexType.IvfFlat, SpaceType.L2))
    e.batchUpsertDocuments("c", docs)
    e.buildIndex("c", nlist = 5)
    e.setParams("c", Map("nprobe" -> 5)) // all cells: the ties must BOTH surface
    val (local, dist) = bothPaths(e, "c", "q", tieVec, 10)
    assert(local === dist, "local vs distributed diverged")
    assert(local.take(2).map(_._1) === Seq(tieA, tieB),
      "exact tie must break by UTF-8 byte order (U+FFFD < emoji); a UTF-16 " +
        "comparison would invert this pair")
    // pruned probes too (different cells per query)
    e.setParams("c", Map("nprobe" -> 2))
    for (i <- 0 until 5) {
      val qv = docs(i * 7).vector
      val (l, d) = bothPaths(e, "c", s"q$i", qv, 7)
      assert(l === d, s"nprobe=2 parity failed for query $i")
    }
  }

  test("warm local request launches zero Spark jobs; delete re-keys the cache and stays consistent") {
    val dir = testRoot("ivflocal2")
    val e = new Engine(spark, dir)
    val dim = 4
    val rnd = new scala.util.Random(7)
    val docs = (0 until 60).map(i =>
      Document(s"d$i", Array.fill(dim)(rnd.nextFloat())))
    e.createCollection(CollectionConfig("c", dim, IndexType.IvfFlat, SpaceType.L2))
    e.batchUpsertDocuments("c", docs)
    e.buildIndex("c", nlist = 4)
    e.setParams("c", Map("nprobe" -> 4))
    val qv = docs(3).vector
    val first = rowsOf(e.searchVectors("c", Seq(("q", qv)), 5), "q")
    assert(first.head._1 === "d3")
    // warm repeat: zero jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val warm = rowsOf(e.searchVectors("c", Seq(("q", qv)), 5), "q")
      assert(warm === first)
      Thread.sleep(500)
      assert(jobs.get() === 0,
        s"warm local ivf request launched ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // delete the top hit: maintained tombstone advances the stamp; the
    // local serve must drop it and match the distributed view again
    e.deleteDocument("c", "d3")
    val (local, dist) = bothPaths(e, "c", "q2", qv, 5)
    assert(local === dist)
    assert(!local.exists(_._1 == "d3"), "tombstoned id surfaced from the local cell cache")
  }

  test("filtered single-query serve matches the exact eligible top-k; oversized budget falls back, identical results") {
    val dir = testRoot("ivflocal3")
    val e = new Engine(spark, dir)
    val dim = 5
    val rnd = new scala.util.Random(13)
    val docs = (0 until 80).map(i =>
      Document(s"d$i", Array.fill(dim)(rnd.nextFloat()), Map("tag" -> (if (i % 2 == 0) "a" else "b"))))
    e.createCollection(CollectionConfig("c", dim, IndexType.IvfFlat, SpaceType.L2))
    e.batchUpsertDocuments("c", docs)
    e.buildIndex("c", nlist = 3)
    e.setParams("c", Map("nprobe" -> 3)) // all cells → exact over eligible
    val qv = docs(10).vector
    val expected = docs.filter(_.params("tag") == "a")
      .map(d => (d.id, l2(qv, d.vector)))
      .sortBy { case (id, dd) => (dd, id.drop(1).toInt) }.take(6).map(_._1)
    val pred = col("params")("tag") === "a"
    val hits = e.searchDocuments("c", qv, 6, filter = Some(pred))
    assert(hits.map(_.id) === expected)
    // shrink the budget below any cell: every request must DECLINE to the
    // distributed plan and produce identical rows
    val saved = graft.operators.LocalIvfServe.maxLocalIvfBytes
    try {
      graft.operators.LocalIvfServe.clearCells()
      graft.operators.LocalIvfServe.maxLocalIvfBytes = 1L
      val declines0 = graft.operators.LocalIvfServe.metrics("ivf_local_oversized_declines")
      val (local, dist) = bothPaths(e, "c", "q", qv, 6)
      assert(local === dist)
      assert(graft.operators.LocalIvfServe.metrics("ivf_local_oversized_declines") > declines0,
        "tiny budget must decline via the oversized pre-check")
    } finally {
      graft.operators.LocalIvfServe.maxLocalIvfBytes = saved
      graft.operators.LocalIvfServe.clearCells()
    }
  }

  test("maintained writes rotate the cell cache: post-append local ≡ distributed") {
    val dir = testRoot("ivflocal4")
    val e = new Engine(spark, dir)
    val dim = 4
    val rnd = new scala.util.Random(23)
    val docs = (0 until 50).map(i =>
      Document(s"d$i", Array.fill(dim)(rnd.nextFloat())))
    e.createCollection(CollectionConfig("c", dim, IndexType.IvfFlat, SpaceType.L2))
    e.batchUpsertDocuments("c", docs)
    e.buildIndex("c", nlist = 3)
    e.setParams("c", Map("nprobe" -> 3))
    val probe = Array.fill(dim)(0.25f)
    rowsOf(e.searchVectors("c", Seq(("warm", probe)), 5), "warm") // cells cached
    // maintained insert lands exactly at the probe — must be hit #1 locally
    e.upsertDocument("c", Document("new", probe))
    val (local, dist) = bothPaths(e, "c", "q", probe, 5)
    assert(local === dist)
    assert(local.head._1 === "new",
      "maintained insert missing from the local serve after stamp rotation")
    // maintained UPDATE moves an old doc onto the probe: version shadowing
    // must serve only the latest incarnation
    e.upsertDocument("c", Document("d7", probe))
    val (local2, dist2) = bothPaths(e, "c", "q2", probe, 5)
    assert(local2 === dist2)
    assert(local2.count(r => r._1 == "d7") === 1)
  }

  test("first search after a maintained upsert, overwrite and delete launches zero Spark jobs; cold cells too; local ≡ distributed") {
    val dir = testRoot("ivflocal5")
    val e = new Engine(spark, dir)
    val dim = 4
    val rnd = new scala.util.Random(37)
    val docs = (0 until 60).map(i =>
      Document(s"d$i", Array.fill(dim)(rnd.nextFloat())))
    e.createCollection(CollectionConfig("c", dim, IndexType.IvfFlat, SpaceType.L2))
    e.batchUpsertDocuments("c", docs)
    e.buildIndex("c", nlist = 4)
    e.setParams("c", Map("nprobe" -> 2))
    val probe = docs(5).vector
    def search(qid: String) = rowsOf(e.searchVectors("c", Seq((qid, probe)), 6), qid)
    search("warm")
    val writes = Seq[(String, () => Unit)](
      "maintained upsert" -> (() => e.upsertDocument("c", Document("fresh", probe.clone()))),
      "overwrite" -> (() => e.upsertDocument("c", Document("d9", probe.clone()))),
      "delete" -> (() => e.deleteDocument("c", "d5")))
    for ((what, write) <- writes) {
      write()
      val (local, jobs) = jobsDuring(search("q"))
      assert(jobs === 0, s"first search after the $what launched $jobs Spark job(s)")
      val (_, dist) = bothPaths(e, "c", "q", probe, 6)
      assert(local === dist, s"local ≢ distributed after the $what")
    }
    val last = search("q")
    assert(last.map(_._1).take(2).toSet === Set("fresh", "d9") && !last.exists(_._1 == "d5"),
      s"writes not reflected: $last")
    assert(last.count(_._1 == "d9") === 1, s"overwritten id served twice: $last")
    // cold cells: the cache and the decoded files dropped, as a restarted
    // server has them — the reload decodes from disk and launches no job
    graft.operators.LocalIvfServe.clearCells()
    val decodes0 = graft.operators.LocalIvfServe.metrics("ivf_local_file_decodes")
    val (cold, coldJobs) = jobsDuring(search("q"))
    assert(coldJobs === 0, s"a cold cell load launched $coldJobs Spark job(s)")
    assert(cold === last)
    assert(graft.operators.LocalIvfServe.metrics("ivf_local_file_decodes") > decodes0,
      "cold cells must be decoded from the layout files")
    // a buildIndex fold retires the sidecar with its generation: the next
    // search serves the rebuilt layout, nothing from the decoded memo
    e.buildIndex("c", nlist = 4)
    val (folded, foldJobs) = jobsDuring(search("q"))
    assert(foldJobs === 0, s"first search after the fold launched $foldJobs Spark job(s)")
    val (_, foldedDist) = bothPaths(e, "c", "q", probe, 6)
    assert(folded === foldedDist)
    assert(folded.map(_._1).take(2).toSet === Set("fresh", "d9") &&
      !folded.exists(_._1 == "d5"), s"fold changed the live rows: $folded")
  }
}
