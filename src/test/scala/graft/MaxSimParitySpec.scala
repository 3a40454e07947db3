package graft

import java.nio.file.Files

import graft.api.Engine
import graft.core.{CollectionConfig, IndexType, SpaceType}

/** The zero-job local MaxSim serve (`Engine.searchMaxSimLocal`) must be
  * row-identical to the distributed plan (`searchMaxSimDistributed`) —
  * candidates from the same per-token shortlists, scores through the same
  * fixed-order add chain over per-token maxes, (score desc, doc asc UTF-8)
  * ranks — across ties, maintained updates, shrink-updates, and deletes;
  * and a warm local request must launch zero Spark jobs.
  */
class MaxSimParitySpec extends SparkSpec {

  private def mvEngine(dim: Int, corpus: Seq[(String, Seq[Array[Float]])],
      nlist: Int): Engine = {
    val dir = testRoot("maxsimlocal")
    val e = new Engine(spark, dir)
    e.createCollection(CollectionConfig("mv", dim, IndexType.IvfFlat,
      SpaceType.L2, params = Map("multivector" -> "true")))
    e.batchUpsertMultiVector("mv", corpus)
    e.buildIndex("mv", nlist = nlist)
    e
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Long)] =
    rows(df.collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2))))

  /** The local serve's driver rows, in the same canonical order. */
  private def rows(local: Seq[(String, String, Long)]): Seq[(String, String, Long)] =
    local.sortBy(t => (t._1, t._3))

  private def parity(e: Engine, queries: Seq[(String, Seq[Array[Float]])],
      k: Int, clue: String): Seq[(String, String, Long)] = {
    val cfg = e.getCollection("mv").get
    val local = e.searchMaxSimLocal("mv", cfg, queries, k)
    assert(local.isDefined, s"$clue: local path declined unexpectedly")
    val l = rows(local.get)
    val d = rows(e.searchMaxSimDistributed("mv", queries, k))
    assert(l === d, s"$clue: local vs distributed MaxSim diverged")
    l
  }

  test("local ≡ distributed across nprobe/candM, incl. exact score ties") {
    val dim = 4
    val rnd = new scala.util.Random(3)
    // two docs with IDENTICAL token bags force an exact score tie; the
    // magnitudes dominate every random doc so the tied pair ranks 1-2
    val twin = Seq(Array(2f, 2f, 2f, 2f), Array(1.5f, 2f, 2f, 1.5f))
    val corpus = (0 until 30).map(i =>
      s"d$i" -> Seq.fill(2 + i % 3)(Array.fill(dim)(rnd.nextFloat()))) ++
      Seq("tie-b" -> twin, "tie-a" -> twin)
    val e = mvEngine(dim, corpus, nlist = 4)
    val queries = Seq(
      "q0" -> Seq(twin(0), twin(1)),
      "q1" -> Seq(Array.fill(dim)(rnd.nextFloat())),
      "q2" -> (0 until 3).map(_ => Array.fill(dim)(rnd.nextFloat())))
    for (np <- Seq(1, 2, 4); cm <- Seq(4, 16)) {
      e.setParams("mv", Map("nprobe" -> np, "maxsimCandM" -> cm))
      val got = parity(e, queries, 5, s"nprobe=$np candM=$cm")
      if (np == 4 && cm == 16) {
        // ties rank by doc-id UTF-8 order
        val q0 = got.filter(_._1 == "q0").sortBy(_._3).map(_._2)
        assert(q0.take(2) === Seq("tie-a", "tie-b"), s"tie order: $q0")
      }
    }
  }

  test("doc-vector cache never serves stale: every mutation rotates the stamp key") {
    val dim = 4
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 24).map(i =>
      s"d$i" -> Seq.fill(3)(Array.fill(dim)(rnd.nextFloat())))
    val e = mvEngine(dim, corpus, nlist = 4)
    e.setParams("mv", Map("nprobe" -> 4, "maxsimCandM" -> 16))
    val q = Seq("q" -> corpus(5)._2)
    parity(e, q, 5, "cold")
    parity(e, q, 5, "warm (cache hit path)")
    // overwrite the top candidate's tokens: the next serve must re-read
    // (stamp rotated), stay ≡ distributed, and reflect the new vectors
    e.upsertMultiVector("mv", "d5", Seq.fill(3)(Array.fill(dim)(-1f)))
    e.buildIndex("mv", nlist = 4)
    val after = parity(e, q, 5, "after overwrite")
    assert(after.filter(_._1 == "q").map(_._2).headOption !== Some("d5"),
      s"stale cached vectors served for the overwritten doc: $after")
    // grow-update: token count changes must flow through the shortlist's
    // ntok channel, not a stale cached count
    e.upsertMultiVector("mv", "d6", Seq.fill(6)(corpus(6)._2.head))
    e.buildIndex("mv", nlist = 4)
    parity(e, Seq("g" -> Seq(corpus(6)._2.head)), 5, "after grow-update")
    // delete: candidate drops out on both paths
    e.deleteMultiVector("mv", "d7")
    e.buildIndex("mv", nlist = 4)
    val gone = parity(e, Seq("x" -> corpus(7)._2), 5, "after delete")
    assert(!gone.exists(_._2 == "d7"), s"deleted doc served: $gone")
  }

  test("warm local MaxSim request launches zero Spark jobs") {
    val dim = 3
    val corpus = Seq(
      "d0" -> Seq(Array(1f, 0f, 0f), Array(0.9f, 0.1f, 0f)),
      "d1" -> Seq(Array(0f, 1f, 0f)),
      "d2" -> Seq(Array(0f, 0f, 1f), Array(0.1f, 0f, 0.9f)))
    val e = mvEngine(dim, corpus, nlist = 2)
    e.setParams("mv", Map("nprobe" -> 2, "maxsimCandM" -> 16))
    val queries = Seq("q" -> Seq(Array(1f, 0f, 0f), Array(0f, 0f, 1f)))
    // d2 scores 0.1 + 1.0 = 1.1 (both query tokens match); d0 scores 1.0
    val first = rows(e.searchMaxSim("mv", queries, 2))
    assert(first.map(_._2) === Seq("d2", "d0"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(rows(e.searchMaxSim("mv", queries, 2)) === first)
      Thread.sleep(500)
      assert(jobs.get() === 0,
        s"warm local maxsim request launched ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("40-query MaxSim batch AUTO-SPLITS onto the zero-job serve: warm job-free, rows ≡ distributed") {
    val dim = 3
    val rnd = new scala.util.Random(23)
    val corpus = (0 until 25).map(i =>
      s"d$i" -> Seq.fill(2)(Array.fill(dim)(rnd.nextFloat())))
    val e = mvEngine(dim, corpus, nlist = 3)
    e.setParams("mv", Map("nprobe" -> 3, "maxsimCandM" -> 8))
    val queries = (0 until 40).map(i =>
      s"q$i" -> Seq.fill(1 + i % 3)(Array.fill(dim)(rnd.nextFloat())))
    val first = rows(e.searchMaxSim("mv", queries, 3))
    assert(first === rows(e.searchMaxSimDistributed("mv", queries, 3)),
      "auto-split local MaxSim ≠ distributed plan")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(rows(e.searchMaxSim("mv", queries, 3)) === first)
      Thread.sleep(500)
      assert(jobs.get() === 0,
        s"warm 40-query auto-split maxsim launched ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("maintained update / shrink-update / delete keep local ≡ distributed") {
    val dim = 3
    val rnd = new scala.util.Random(17)
    val corpus = (0 until 20).map(i =>
      s"d$i" -> Seq.fill(3)(Array.fill(dim)(rnd.nextFloat())))
    val e = mvEngine(dim, corpus, nlist = 3)
    e.setParams("mv", Map("nprobe" -> 3, "maxsimCandM" -> 8))
    val queries = Seq("q" -> Seq(corpus(5)._2.head, corpus(11)._2.last))
    parity(e, queries, 4, "baseline")
    // update d5 with MORE tokens
    e.upsertMultiVector("mv", "d5", Seq.fill(5)(Array.fill(dim)(rnd.nextFloat())))
    parity(e, queries, 4, "grow-update")
    // shrink d11 to one token (stale tail rows must not score)
    e.upsertMultiVector("mv", "d11", Seq(Array.fill(dim)(rnd.nextFloat())))
    parity(e, queries, 4, "shrink-update")
    // delete d5 entirely
    e.deleteMultiVector("mv", "d5")
    val after = parity(e, queries, 4, "delete")
    assert(!after.exists(_._2 == "d5"), "deleted doc surfaced")
  }

  test("drop+recreate cannot serve the dead incarnation's token vectors at a matching stamp") {
    // the doc cache keys on (coll, version, doc) and the version counter
    // RESETS on drop — a recreated collection reusing ids reaches the same
    // stamps the old incarnation served at, so dropCollection must clear
    // the entries (like every other incarnation-keyed cache)
    val dim = 4
    val corpusA = (0 until 12).map(i => s"d$i" -> Seq(Array.fill(dim)(0.1f * i)))
    val e = mvEngine(dim, corpusA, nlist = 2)
    val q = Seq("q" -> Seq(Array.fill(dim)(0.5f)))
    parity(e, q, 3, "first incarnation") // populates the doc cache
    e.dropCollection("mv")
    // second incarnation: same ids, DIFFERENT vectors, same batch cadence
    // → the serve below runs at a version the old incarnation already
    // cached token vectors for
    e.createCollection(CollectionConfig("mv", dim, IndexType.IvfFlat,
      SpaceType.L2, params = Map("multivector" -> "true")))
    e.batchUpsertMultiVector("mv",
      (0 until 12).map(i => s"d$i" -> Seq(Array.fill(dim)(1f - 0.05f * i))))
    e.buildIndex("mv", nlist = 2)
    parity(e, q, 3, "recreated incarnation") // distributed is the truth
  }

  test("precondition misses decline to the distributed plan") {
    val dim = 3
    val corpus = (0 until 6).map(i =>
      s"d$i" -> Seq(Array.fill(dim)(0.1f * i)))
    val e = mvEngine(dim, corpus, nlist = 2)
    val cfg = e.getCollection("mv").get
    val one = Seq(Array(0.2f, 0.2f, 0.2f))
    // >16 queries
    assert(e.searchMaxSimLocal("mv", cfg,
      (0 until 17).map(i => s"q$i" -> one), 2).isEmpty)
    // duplicate qids
    assert(e.searchMaxSimLocal("mv", cfg,
      Seq("q" -> one, "q" -> one), 2).isEmpty)
    // stale layout (a raw write after build)
    e.upsertMultiVector("mv", "d0", Seq(Array(0.9f, 0.9f, 0.9f)))
    // maintained write keeps the layout current, so force staleness is not
    // trivial here — instead check the public API still answers correctly
    // (whichever path) and matches the distributed reference
    val d = rows(e.searchMaxSimDistributed("mv", Seq("q" -> one), 3))
    assert(rows(e.searchMaxSim("mv", Seq("q" -> one), 3)) === d)
  }
}
