package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.Engine
import graft.core.{CollectionConfig, Document, IndexType, SpaceType}

/** Zero-job IVFPQ point serving (`LocalPqServe` ADC shortlist + the
  * engine's local exact re-rank) must be row-identical to the distributed
  * `IvfPq.search(rerankVecCol = vector)` plan: same probe, same ADC table
  * (literally `QuantKernels.adcTable` on both paths), same double-accumulated
  * lookup sum, same shortlist depth (shared `DefaultRerankFactor`), same
  * exact re-rank arithmetic and (distance, id UTF-8) ties. The single-query
  * engine path routes local; padding past 16 queries forces distributed.
  */
class LocalPqParitySpec extends SparkSpec {

  private def rowsOf(df: org.apache.spark.sql.DataFrame, qid: String): Seq[(String, Double, Long)] =
    df.filter(col("query_id") === qid)
      .select(col("id").cast("string"), col("distance"), col("rnk"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._3).toSeq

  private def bothPaths(e: Engine, qid: String, qv: Array[Float], k: Int)
      : (Seq[(String, Double, Long)], Seq[(String, Double, Long)]) = {
    val local = rowsOf(e.searchVectors("c", Seq((qid, qv)), k), qid)
    // duplicate "__pad" qids DECLINE the local route (the window plans
    // merge a duplicated qid's rows; the per-query local loop cannot) —
    // the reliable distributed-forcing trick now that >16-query batches
    // AUTO-SPLIT onto the local serve instead of falling off it
    val padded = (0 until 2).map(_ => ("__pad", qv)) :+ ((qid, qv))
    val dist = rowsOf(e.searchVectors("c", padded, k), qid)
    (local, dist)
  }

  private def freshPq(dim: Int, n: Int, space: SpaceType, seed: Int,
      withTies: Boolean = false): (Engine, IndexedSeq[Document]) = {
    val dir = testRoot("pqlocal")
    val e = new Engine(spark, dir)
    val rnd = new scala.util.Random(seed)
    val base = (0 until n).map(i =>
      Document(s"d$i", Array.fill(dim)(rnd.nextFloat())))
    // exact-duplicate vectors: identical codes → tied ADC distances AND
    // tied exact re-rank distances, forcing the id tie-break on both stages
    val docs = if (withTies) base ++ Seq(
      Document("t-b", base(3).vector.clone()),
      Document("t-a", base(3).vector.clone())) else base
    e.createCollection(CollectionConfig("c", dim, IndexType.IvfPq, space,
      params = Map("m" -> "4")))
    e.batchUpsertDocuments("c", docs)
    e.buildIndex("c", nlist = 4)
    (e, docs)
  }

  test("local ≡ distributed IVFPQ across spaces and nprobe, incl. code/exact ties") {
    for (space <- Seq(SpaceType.L2, SpaceType.Ip, SpaceType.Cos)) {
      val (e, docs) = freshPq(8, 60, space, seed = 5, withTies = true)
      for (np <- Seq(1, 2, 4)) {
        e.setParams("c", Map("nprobe" -> np))
        for (i <- Seq(0, 3, 17)) {
          val (l, d) = bothPaths(e, s"q$i", docs(i).vector, 6)
          assert(l === d, s"space=$space nprobe=$np query=$i parity failed")
        }
      }
      // the tied trio (d3, t-a, t-b share a vector → equal codes AND equal
      // exact distances) must surface CONSECUTIVELY in id order, wherever
      // other docs rank around them (under ip, bigger-dot docs precede)
      e.setParams("c", Map("nprobe" -> 4))
      val (l, _) = bothPaths(e, "qt", docs(3).vector, 8)
      val trio = l.map(_._1).filter(Set("d3", "t-a", "t-b"))
      assert(trio === Seq("d3", "t-a", "t-b"), s"tie order: $l")
      val pos = l.map(_._1).indexOf("d3")
      assert(pos >= 0 && l.map(_._1).slice(pos, pos + 3) === Seq("d3", "t-a", "t-b"),
        s"tied trio must be consecutive: $l")
    }
  }

  test("warm local PQ request launches zero Spark jobs; delete and maintained write stay consistent") {
    val (e, docs) = freshPq(8, 50, SpaceType.L2, seed = 9)
    e.setParams("c", Map("nprobe" -> 4))
    val qv = docs(7).vector
    val first = rowsOf(e.searchVectors("c", Seq(("q", qv)), 5), "q")
    assert(first.head._1 === "d7")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(rowsOf(e.searchVectors("c", Seq(("q", qv)), 5), "q") === first)
      Thread.sleep(500)
      assert(jobs.get() === 0,
        s"warm local pq request launched ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // maintained insert exactly at the probe point must surface first
    e.upsertDocument("c", Document("new", qv.clone()))
    val (l1, d1) = bothPaths(e, "q1", qv, 5)
    assert(l1 === d1)
    assert(l1.map(_._1).contains("new"))
    // delete the original top hit
    e.deleteDocument("c", "d7")
    val (l2, d2) = bothPaths(e, "q2", qv, 5)
    assert(l2 === d2)
    assert(!l2.exists(_._1 == "d7"), "tombstoned id surfaced from the code cell cache")
  }

  test("local ≡ distributed OPQ: rotated-space shortlist, original-space re-rank") {
    val dir = testRoot("opqlocal")
    val e = new Engine(spark, dir)
    val dim = 8
    val rnd = new scala.util.Random(41)
    val docs = (0 until 60).map(i =>
      Document(s"d$i", Array.fill(dim)(rnd.nextFloat())))
    e.createCollection(CollectionConfig("c", dim, IndexType.Opq, SpaceType.L2,
      params = Map("m" -> "4")))
    e.batchUpsertDocuments("c", docs)
    e.buildIndex("c", nlist = 4)
    for (np <- Seq(1, 2, 4)) {
      e.setParams("c", Map("nprobe" -> np))
      for (i <- Seq(1, 8, 33)) {
        val (l, d) = bothPaths(e, s"q$i", docs(i).vector, 6)
        assert(l === d, s"opq nprobe=$np query=$i parity failed")
      }
    }
    // maintained write + delete through the opq layout
    val probe = docs(8).vector
    e.upsertDocument("c", Document("new", probe.clone()))
    val (l1, d1) = bothPaths(e, "qn", probe, 5)
    assert(l1 === d1)
    e.deleteDocument("c", "d8")
    val (l2, d2) = bothPaths(e, "qd", probe, 5)
    assert(l2 === d2)
    assert(!l2.exists(_._1 == "d8"))
  }

  test("oversized budget declines cleanly; filtered single query stays correct") {
    val (e, docs) = freshPq(8, 40, SpaceType.L2, seed = 21)
    e.setParams("c", Map("nprobe" -> 4))
    val qv = docs(2).vector
    val baseline = rowsOf(e.searchVectors("c", Seq(("q", qv)), 5), "q")
    val saved = graft.operators.LocalPqServe.maxLocalPqBytes
    try {
      graft.operators.LocalPqServe.clearCells()
      graft.operators.LocalPqServe.maxLocalPqBytes = 1L
      val declines0 = graft.operators.LocalPqServe.metrics("pq_local_oversized_declines")
      assert(rowsOf(e.searchVectors("c", Seq(("q", qv)), 5), "q") === baseline)
      assert(graft.operators.LocalPqServe.metrics("pq_local_oversized_declines") > declines0)
    } finally {
      graft.operators.LocalPqServe.maxLocalPqBytes = saved
      graft.operators.LocalPqServe.clearCells()
    }
    // filtered single query (pre-filter eligibility) matches the exact
    // eligible ranking under full probes — shortlist covers the eligible set
    val pred = col("params")("tag").isNull // all docs have no tag → everyone eligible
    val hits = e.searchDocuments("c", qv, 5, filter = Some(pred))
    assert(hits.map(_.id) === baseline.map(_._1))
  }

  test("first search after a maintained upsert, overwrite and delete launches zero Spark jobs; cold cells too; local ≡ distributed") {
    val (e, docs) = freshPq(8, 60, SpaceType.L2, seed = 47)
    e.setParams("c", Map("nprobe" -> 2))
    val probe = docs(4).vector
    def search(qid: String) = rowsOf(e.searchVectors("c", Seq((qid, probe)), 6), qid)
    search("warm")
    val writes = Seq[(String, () => Unit)](
      "maintained upsert" -> (() => e.upsertDocument("c", Document("fresh", probe.clone()))),
      "overwrite" -> (() => e.upsertDocument("c", Document("d9", probe.clone()))),
      "delete" -> (() => e.deleteDocument("c", "d4")))
    for ((what, write) <- writes) {
      write()
      val (local, jobs) = jobsDuring(search("q"))
      assert(jobs === 0, s"first search after the $what launched $jobs Spark job(s)")
      val (_, dist) = bothPaths(e, "q", probe, 6)
      assert(local === dist, s"local ≢ distributed after the $what")
    }
    val last = search("q")
    assert(last.map(_._1).take(2).toSet === Set("fresh", "d9") && !last.exists(_._1 == "d4"),
      s"writes not reflected: $last")
    assert(last.count(_._1 == "d9") === 1, s"overwritten id served twice: $last")
    graft.operators.LocalPqServe.clearCells()
    val decodes0 = graft.operators.LocalPqServe.metrics("pq_local_file_decodes")
    val (cold, coldJobs) = jobsDuring(search("q"))
    assert(coldJobs === 0, s"a cold code-cell load launched $coldJobs Spark job(s)")
    assert(cold === last)
    assert(graft.operators.LocalPqServe.metrics("pq_local_file_decodes") > decodes0,
      "cold cells must be decoded from the layout files")
    e.buildIndex("c", nlist = 4)
    val (folded, foldJobs) = jobsDuring(search("q"))
    assert(foldJobs === 0, s"first search after the fold launched $foldJobs Spark job(s)")
    val (_, foldedDist) = bothPaths(e, "q", probe, 6)
    assert(folded === foldedDist)
    assert(folded.map(_._1).take(2).toSet === Set("fresh", "d9") &&
      !folded.exists(_._1 == "d4"), s"fold changed the live rows: $folded")
  }
}
