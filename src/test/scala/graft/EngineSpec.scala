package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.api.Engine
import graft.core._
import graft.sources.FakeEmbeddingProvider

/** REST-verb parity scenarios from the reference's handler e2e tests
  * (`internal/server/handlers_test.go`, FIXTURES F-1/F-3/F-5/F-7).
  */
class EngineSpec extends SparkSpec {

  private def freshEngine(dim: Int = 3): Engine = {
    val dir = testRoot("engine")
    new Engine(spark, dir, Some(new FakeEmbeddingProvider(dim)))
  }

  test("non-local roots are ADMITTED (ControlFs port); an unreachable scheme fails loudly on use, never silently") {
    // r10 refused non-local roots because the control plane was java.nio;
    // the ControlFs port admits them — control state lives with the data.
    // An unreachable/unresolvable scheme must still fail LOUDLY at first
    // control-file touch (createCollection), not corrupt silently.
    val e = new Engine(spark, "abfss://nowhere@example/graft") // constructs fine
    intercept[Exception](
      e.createCollection(CollectionConfig("c", 2, IndexType.Flat)))
    // plain local roots keep the pre-port nio control plane: the version
    // counter is the single `_version` file, bit-compatible on disk
    val root = Files.createTempDirectory("cfs-compat").toString
    val local = new Engine(spark, root)
    local.createCollection(CollectionConfig("c", 2, IndexType.Flat))
    local.upsertDocument("c", Document("a", Array(1f, 2f)))
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/c/_version"))).trim === "1")
  }

  test("create / duplicate-create / list / get / drop collection") {
    val e = freshEngine()
    assert(e.createCollection(CollectionConfig("docs3", 3, IndexType.Flat)))
    assert(!e.createCollection(CollectionConfig("docs3", 3))) // dup → ok-with-message
    assert(e.listCollections() === Seq("docs3"))
    assert(e.getCollection("docs3").get.dimension === 3)
    assert(e.dropCollection("docs3"))
    assert(e.listCollections().isEmpty)
    assert(!e.dropCollection("docs3"))
  }

  test("F-3 search-documents e2e: unfiltered ids [1,2], dists [0,27]; filter applies") {
    val e = freshEngine()
    e.createCollection(CollectionConfig("docs3", 3, IndexType.Flat))
    e.upsertDocument("docs3", Document("1", Array(1f, 2f, 3f), Map("tag" -> "test1")))
    e.upsertDocument("docs3", Document("2", Array(4f, 5f, 6f), Map("tag" -> "test2")))

    val unfiltered = e.searchDocuments("docs3", Array(1f, 2f, 3f), 2)
    assert(unfiltered.map(_.id) === Seq("1", "2"))
    assert(unfiltered.map(_.distance) === Seq(0.0, 27.0)) // distance_test.go:26-33

    // reference ignores the filter (document.go:171); we implement it
    val pre = e.searchDocuments("docs3", Array(1f, 2f, 3f), 2,
      filter = Some(col("params")("tag") === "test1"))
    assert(pre.map(_.id) === Seq("1"))
    val post = e.searchDocuments("docs3", Array(1f, 2f, 3f), 2,
      filter = Some(col("params")("tag") === "test2"), preFilter = false)
    assert(post.map(_.id) === Seq("2"))
  }

  test("pre-filtered search keeps every tier's LAYOUT serving (eligibility, not fallback)") {
    val dir = testRoot("engine_elig")
    val e = new Engine(spark, dir)
    val dim = 8
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 80).map(_ => Array.fill(dim)(rnd.nextFloat()))
    val docs = vecs.zipWithIndex.map { case (v, i) =>
      Document(i.toString, v, Map("tag" -> (if (i % 2 == 0) "a" else "b")))
    }
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
      }
      s
    }
    val q = vecs(2) // an eligible (tag=a) vector
    val exactEligible = docs.filter(_.params("tag") == "a")
      .map(d => (d.id, l2(q, d.vector)))
      .sortBy { case (id, d) => (d, id.toInt) }.take(5).map(_._1)
    // driver reads of the layout by the zero-job cell tiers: file decodes,
    // or cells served from the layout's resident (preloaded) cells
    def layoutDecodes: Long = (graft.operators.LocalIvfServe.metrics ++
        graft.operators.LocalPqServe.metrics ++ graft.operators.GraphAnn.localServeMetrics)
      .collect { case (k, v) if k.endsWith("_file_decodes") || k.endsWith("_hits") => v }.sum
    // record every file scan's root paths, so "the layout served" is a
    // plan-level fact, not an inference from results
    val scans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        scans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val tiers = Seq(
        ("ivf", IndexType.IvfFlat, Map("nprobe" -> 4), true),
        ("pq", IndexType.IvfPq, Map("nprobe" -> 4), false), // ADC order ≈, not exact
        ("sq", IndexType.Sq, Map("rerankFactor" -> 16), true),
        ("bq", IndexType.Bq, Map("rerankFactor" -> 16), true),
        ("opq", IndexType.Opq, Map("nprobe" -> 4), false),
        // shortlist 5·16 = 80 ≥ the 40 eligible rows: re-rank is exhaustive
        ("mrl", IndexType.Mrl, Map("rerankFactor" -> 16), true),
        ("h", IndexType.Hnsw, Map("efsearch" -> 100), true)) // ef ≥ corpus: beams exhaust
      for ((name, it, params, exact) <- tiers) {
        e.createCollection(CollectionConfig(name, dim, it))
        e.batchUpsertDocuments(name, docs)
        e.buildIndex(name, nlist = 4)
        e.setParams(name, params)
        scans.clear()
        val decodes0 = layoutDecodes
        val hits = e.searchDocuments(name, q, 5,
          filter = Some(col("params")("tag") === "a"))
        assert(hits.size === 5, s"$name: expected full k")
        hits.foreach(h => assert(h.id.toInt % 2 == 0, s"$name: ineligible hit ${h.id}"))
        if (exact)
          assert(hits.map(_.id) === exactEligible, s"$name: filtered top-k mismatch")
        // listener posts async: bounded poll for the layout-scan evidence.
        // Snapshot via toArray (atomic on a synchronizedList) — iterating
        // asScala while the listener concurrently appends throws
        // ConcurrentModificationException (flaked once the local serving
        // paths added more async QE events mid-poll). 30 s: a co-tenant
        // stall burst (documented 3x multipliers) can delay the event.
        // The zero-job cell tiers read their layout with no plan at all: the
        // driver decoding this fresh layout's files, or serving its resident
        // cells, is the same fact (a fallback to the live corpus does neither)
        def sawIndexScan: Boolean = scans.toArray(new Array[String](0))
          .exists(_.contains(s"/$name/index/")) || layoutDecodes > decodes0
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!sawIndexScan && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(sawIndexScan,
          s"$name: neither an executed plan nor the driver reader read the " +
            "layout — filtered search fell back")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("filtered POINT serve on a routed hnsw collection: correct, and warm requests launch zero Spark jobs") {
    val dir = testRoot("engine_filtpoint")
    val e = new Engine(spark, dir)
    val dim = 8
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 120).map(_ => Array.fill(dim)(rnd.nextFloat()))
    val docs = vecs.zipWithIndex.map { case (v, i) =>
      Document(i.toString, v, Map("tag" -> (if (i % 2 == 0) "a" else "b")))
    }
    e.createCollection(CollectionConfig("fp", dim, IndexType.Hnsw,
      params = Map("routeNlist" -> "4")))
    e.batchUpsertDocuments("fp", docs)
    e.buildIndex("fp")
    e.setParams("fp", Map("routeNprobe" -> 2, "efsearch" -> 200))
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
      }
      s
    }
    val q = vecs(4)
    // ef ≥ corpus: filtered beams exhaust every cell, so the result is the
    // exact eligible top-k despite the ANN tier
    val expected = docs.filter(_.params("tag") == "a")
      .map(d => (d.id, l2(q, d.vector)))
      .sortBy { case (id, dd) => (dd, id.toInt) }.take(5).map(_._1)
    val pred = col("params")("tag") === "a"
    // first filtered request: jobs allowed (eligible-set collect + cell load)
    val warm = e.searchDocuments("fp", q, 5, filter = Some(pred))
    assert(warm.map(_.id) === expected)
    // warm repeat: the eligible set and the cells are driver-cached — the
    // whole request must run without launching a single Spark job.
    // jobsDuring drains the listener bus first, so a job of the first
    // request that is still queued there is not counted against this one
    val (hits, jobs) = jobsDuring(e.searchDocuments("fp", q, 5, filter = Some(pred)))
    assert(hits.map(_.id) === expected)
    assert(jobs === 0, s"warm filtered point request launched $jobs Spark job(s)")
  }

  test("multivector collection e2e: upsert / maxsim search / shrink-update / delete") {
    val e = freshEngine()
    e.createCollection(CollectionConfig("mv", 3, IndexType.IvfFlat,
      SpaceType.L2, params = Map("multivector" -> "true")))
    // plain single-vector writes are rejected (token rows must carry the
    // doc-key param, or MaxSim search can't attribute them)
    intercept[IllegalArgumentException](
      e.upsertDocument("mv", Document("x", Array(1f, 0f, 0f))))
    val corpus = Seq(
      "d0" -> Seq(Array(1f, 0f, 0f), Array(0.9f, 0.1f, 0f)),
      "d1" -> Seq(Array(0f, 1f, 0f), Array(0f, 0.9f, 0.1f)),
      "d2" -> Seq(Array(0f, 0f, 1f), Array(0.1f, 0f, 0.9f), Array(0f, 0.1f, 0.9f)))
    e.batchUpsertMultiVector("mv", corpus)
    e.buildIndex("mv", nlist = 2)
    // default maxsimCandM (16) ≥ total token rows, so the shortlist covers
    // every doc and the result is EXACT MaxSim — gate against a driver twin
    // (same in-order float→double dot the NegDot kernel runs)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def maxSimScore(q: Seq[Array[Float]], d: Seq[Array[Float]]): Double =
      q.map(t => d.map(dot(t, _)).max).sum
    val q = Seq(Array(1f, 0f, 0f), Array(0.9f, 0.1f, 0f))
    val expected = corpus.map { case (id, toks) => (id, maxSimScore(q, toks)) }
      .sortBy { case (id, s) => (-s, id) }.map(_._1)
    val r = e.searchMaxSim("mv", Seq(("q", q)), 3).collect().sortBy(_.getLong(2))
    assert(r.map(_.getString(1)).toSeq === expected)
    assert(r.map(_.getLong(2)).toSeq === Seq(1L, 2L, 3L))

    // shrink-update: d2 re-upserted with ONE token — the stale tail rows
    // must stop serving (through the MAINTAINED layout path: buildIndex ran)
    e.upsertMultiVector("mv", "d2", Seq(Array(0f, 0f, 1f)))
    assert(e.getDocument("mv", "d2" + e.MultiVectorSep + "1").isEmpty)
    assert(e.getDocument("mv", "d2" + e.MultiVectorSep + "0")
      .get.params(e.MultiVectorNtokKey) === "1")
    val corpus2 = corpus.map {
      case ("d2", _) => "d2" -> Seq(Array(0f, 0f, 1f)); case other => other }
    val expected2 = corpus2.map { case (id, toks) => (id, maxSimScore(q, toks)) }
      .sortBy { case (id, s) => (-s, id) }.map(_._1)
    val r2 = e.searchMaxSim("mv", Seq(("q", q)), 3).collect().sortBy(_.getLong(2))
    assert(r2.map(_.getString(1)).toSeq === expected2)

    // delete removes every token row; absent doc → 404 semantics
    e.deleteMultiVector("mv", "d1")
    assert(e.getDocument("mv", "d1" + e.MultiVectorSep + "0").isEmpty)
    val r3 = e.searchMaxSim("mv", Seq(("q", q)), 3).collect()
    assert(!r3.map(_.getString(1)).contains("d1") && r3.length === 2)
    intercept[NoSuchElementException](e.deleteMultiVector("mv", "nope"))
    // maxsimCandM validates: only on multivector collections, positive
    e.setParams("mv", Map("maxsimCandM" -> 4))
    intercept[IllegalArgumentException](e.setParams("mv", Map("maxsimCandM" -> 0)))
    e.createCollection(CollectionConfig("plain", 3, IndexType.Flat))
    intercept[IllegalArgumentException](e.setParams("plain", Map("maxsimCandM" -> 4)))
  }

  test("error semantics: wrong dim, unknown collection, zero results") {
    val e = freshEngine()
    e.createCollection(CollectionConfig("docs3", 3, IndexType.Flat))
    e.upsertDocument("docs3", Document("1", Array(1f, 2f, 3f)))
    intercept[IllegalArgumentException](
      e.searchDocuments("docs3", Array(1f, 2f), 2)) // handlers_test.go:438-458
    intercept[NoSuchElementException](
      e.searchDocuments("nope", Array(1f, 2f, 3f), 2))
    intercept[NoSuchElementException]( // zero hits → error (document.go:222-225)
      e.searchDocuments("docs3", Array(1f, 2f, 3f), 2,
        filter = Some(col("params")("tag") === "absent")))
  }

  test("F-7 setParams validation") {
    val e = freshEngine()
    e.createCollection(CollectionConfig("h", 3, IndexType.Hnsw))
    e.createCollection(CollectionConfig("iv", 3, IndexType.IvfFlat))
    e.setParams("h", Map("efsearch" -> 128))
    assert(e.getParams("h")("efsearch") === 128)
    e.setParams("iv", Map("nprobe" -> 5))
    intercept[IllegalArgumentException](e.setParams("h", Map.empty))
    intercept[IllegalArgumentException](e.setParams("h", Map("nprobe" -> 5)))
    intercept[IllegalArgumentException](e.setParams("iv", Map("efsearch" -> 10)))
    intercept[IllegalArgumentException](e.setParams("iv", Map("bogus" -> 1)))
    intercept[IllegalArgumentException](e.setParams("iv", Map("nprobe" -> 0)))
  }

  test("per-tier contract over IndexType.all: setParams keys, layoutDir, compactLayout, search before and after buildIndex") {
    // one row per tier: (layout-dir stem, runtime keys it accepts, needs a
    // build before it serves)
    val tiers: Map[IndexType, (Option[String], Set[String], Boolean)] = Map(
      IndexType.Flat -> ((None, Set.empty, false)),
      IndexType.Hnsw -> ((Some("hnsw"), Set("efsearch"), false)),
      IndexType.IvfFlat -> ((Some("ivf"), Set("nprobe"), true)),
      IndexType.IvfPq -> ((Some("pq"), Set("nprobe"), true)),
      IndexType.Opq -> ((Some("opq"), Set("nprobe"), true)),
      IndexType.Sq -> ((Some("sq"), Set("rerankFactor"), true)),
      IndexType.Bq -> ((Some("bq"), Set("rerankFactor"), true)),
      IndexType.Mrl -> ((Some("mrl"), Set("rerankFactor"), true)))
    assert(tiers.keySet === IndexType.all.toSet)
    val root = testRoot("tier-contract")
    val e = new Engine(spark, root)
    val docs = (0 until 60).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      Document(i.toString, Array.tabulate(8)(j => base + (i % 5) * 0.1f + j * 0.01f))
    }
    import spark.implicits._
    val qDf = Seq(("q", docs.head.vector.toSeq)).toDF("query_id", "query_vec")
    for (it <- IndexType.all) {
      val (stem, keys, needsBuild) = tiers(it)
      val c = s"t_${it.name}"
      e.createCollection(CollectionConfig(c, 8, it))
      e.batchUpsertDocuments(c, docs)
      def accepts(k: String, v: Int): Boolean =
        scala.util.Try(e.setParams(c, Map(k -> v))) match {
          case scala.util.Success(_) => true
          case scala.util.Failure(_: IllegalArgumentException) => false
          case scala.util.Failure(x) => throw x
        }
      // values every tier that takes the key can serve with
      for ((k, v) <- Seq("efsearch" -> 40, "nprobe" -> 1, "rerankFactor" -> 4))
        assert(accepts(k, v) === keys(k), s"${it.name}: setParams $k")
      for (k <- keys) assert(!accepts(k, 0), s"${it.name}: $k = 0 accepted")
      // routeNprobe needs a routeNlist collection, maxsimCandM a multivector one
      assert(!accepts("routeNprobe", 1), s"${it.name}: routeNprobe")
      assert(!accepts("maxsimCandM", 4), s"${it.name}: maxsimCandM")
      assert(!accepts("bogus", 1), s"${it.name}: unknown key")
      assert(e.layoutDir(c) === stem.map(s => s"$root/$c/index/${s}_layout"),
        s"${it.name}: layoutDir")
      assert(!e.compactLayout(c), s"${it.name}: compactLayout before build")
      if (needsBuild) {
        intercept[IllegalStateException](e.searchVectors(c, Seq(("q", docs.head.vector)), 3))
        intercept[IllegalStateException](e.searchVectorsDf(c, qDf, 3).collect())
      } else {
        assert(e.searchVectors(c, Seq(("q", docs.head.vector)), 3).count() === 3L)
        assert(e.searchVectorsDf(c, qDf, 3).count() === 3L)
      }
      e.buildIndex(c, nlist = 2)
      assert(e.layoutDir(c) === stem.map(s => s"$root/$c/index/${s}_layout_g1"),
        s"${it.name}: layoutDir after build")
      assert(e.searchVectors(c, Seq(("q", docs.head.vector)), 3).count() === 3L)
      assert(e.searchVectorsDf(c, qDf, 3).count() === 3L)
      // nprobe is bounded by the trained nlist, also on a fresh engine
      // that knows the model only from its snapshot
      if (keys("nprobe")) {
        assert(accepts("nprobe", 2) && !accepts("nprobe", 3))
        intercept[IllegalArgumentException](
          new Engine(spark, root).setParams(c, Map("nprobe" -> 3)))
      }
      // a fresh engine (a restart) answers searchVectorsDf the same
      def rowsOf(eng: Engine) = eng.searchVectorsDf(c, qDf, 3)
        .select("query_id", "id", "rnk").as[(String, String, Long)].collect().toSet
      assert(rowsOf(new Engine(spark, root)) === rowsOf(e), s"${it.name}: searchVectorsDf after a reopen")
      // writes after the build: a point upsert is visible to searchDocuments,
      // it and an ingested batch to searchVectorsDf, before and after a
      // compaction folds them in; k is deep enough that every tier's
      // candidate set holds the whole corpus
      val p1 = Array.tabulate(8)(j => if (j % 2 == 0) 10f else 0f)
      val p2 = Array.tabulate(8)(j => if (j % 2 == 0) 0f else 10f)
      val deep = docs.size + 2
      e.upsertDocument(c, Document("new", p1))
      e.ingestBatchIndexed(c, Seq(("new2", p2.toSeq, Map.empty[String, String]))
        .toDF("id", "vector", "params"), assumeNewIds = true)
      assert(e.searchDocuments(c, p1, deep).head.id === "new",
        s"${it.name}: a write after the build is not served")
      def tops(): Seq[(String, String)] = e.searchVectorsDf(c,
          Seq(("q1", p1.toSeq), ("q2", p2.toSeq)).toDF("query_id", "query_vec"), deep)
        .filter(col("rnk") === 1).select("query_id", "id").as[(String, String)]
        .collect().toSeq.sorted
      assert(tops() === Seq("q1" -> "new", "q2" -> "new2"), s"${it.name}: searchVectorsDf")
      // the graph tier folds through its own rebuild, never compactLayout
      assert(e.compactLayout(c) === (stem.isDefined && it != IndexType.Hnsw),
        s"${it.name}: compactLayout after build")
      assert(tops() === Seq("q1" -> "new", "q2" -> "new2"),
        s"${it.name}: searchVectorsDf after compactLayout")
    }
    // routeNprobe: hnsw with routeNlist only, bounded by it
    e.createCollection(CollectionConfig("routed", 8, IndexType.Hnsw,
      params = Map("routeNlist" -> "2")))
    e.setParams("routed", Map("routeNprobe" -> 2))
    intercept[IllegalArgumentException](e.setParams("routed", Map("routeNprobe" -> 3)))
    // maxsimCandM: any multivector collection
    e.createCollection(CollectionConfig("mv", 8, IndexType.Flat,
      params = Map("multivector" -> "true")))
    e.setParams("mv", Map("maxsimCandM" -> 4))
    intercept[IllegalArgumentException](e.setParams("mv", Map("maxsimCandM" -> 0)))
  }

  test("routed hnsw: a duplicated qid answers one k-row group per qid") {
    val e = freshEngine(dim = 8)
    e.createCollection(CollectionConfig("rq", 8, IndexType.Hnsw,
      params = Map("routeNlist" -> "4")))
    val rnd = new scala.util.Random(11)
    val docs = (0 until 80).map(i => Document(i.toString, Array.fill(8)(rnd.nextFloat())))
    e.batchUpsertDocuments("rq", docs)
    e.buildIndex("rq", nlist = 4)
    e.setParams("rq", Map("routeNprobe" -> 2))
    val qs = Seq(("a", docs(3).vector), ("a", docs(40).vector), ("b", docs(40).vector))
    // the driver serve declines the request; the distributed plan answers it
    assert(e.searchHits("rq", qs, 5) === Left(Decline.DuplicateQids))
    val rows = e.searchVectors("rq", qs, 5).select("query_id", "rnk").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    for (q <- Seq("a", "b"))
      assert(rows.filter(_._1 == q).map(_._2).sorted.toSeq === (1L to 5L),
        s"qid $q: ${rows.toSeq}")
    assert(rows.length === 10)
  }

  test("delete propagates to search; re-upsert resurrects") {
    val e = freshEngine()
    e.createCollection(CollectionConfig("c", 3, IndexType.Flat))
    e.upsertDocument("c", Document("1", Array(0f, 0f, 0f)))
    e.upsertDocument("c", Document("2", Array(1f, 0f, 0f)))
    e.deleteDocument("c", "1")
    assert(e.getDocument("c", "1") === None)
    val hits = e.searchDocuments("c", Array(0f, 0f, 0f), 5)
    assert(hits.map(_.id) === Seq("2")) // deleted doc absent from results
  }

  test("ivf_flat and ivfpq collections: buildIndex then search e2e") {
    val e = freshEngine(dim = 8)
    for ((name, it) <- Seq(("ivc", IndexType.IvfFlat), ("pqc", IndexType.IvfPq))) {
      e.createCollection(CollectionConfig(name, 8, it))
      val docs = (0 until 60).map { i =>
        val base = if (i % 2 == 0) 0f else 10f
        Document(i.toString, Array.tabulate(8)(j => base + (i % 5) * 0.1f + j * 0.01f))
      }
      e.batchUpsertDocuments(name, docs)
      intercept[IllegalStateException](e.searchVectors(name, Seq(("q", docs.head.vector)), 3))
      e.buildIndex(name, nlist = 2)
      e.setParams(name, Map("nprobe" -> 1))
      val hits = e.searchDocuments(name, docs.head.vector, 3)
      assert(hits.head.id === "0" && math.abs(hits.head.distance) < 1e-9)
      assert(hits.forall(h => h.id.toInt % 2 == 0)) // nprobe=1 stays in the near cluster
    }
  }

  test("searchVectorsDf (KNN-join surface): ivf_flat stays collect-free, matches searchVectors") {
    import spark.implicits._
    val e = freshEngine(dim = 8)
    e.createCollection(CollectionConfig("ivdf", 8, IndexType.IvfFlat))
    val docs = (0 until 80).map { i =>
      val base = if (i % 2 == 0) 0f else 10f
      Document(i.toString, Array.tabulate(8)(j => base + (i % 5) * 0.1f + j * 0.01f))
    }
    e.batchUpsertDocuments("ivdf", docs)
    e.buildIndex("ivdf", nlist = 2)
    val qDf = Seq(
      ("a", docs(0).vector.toSeq), ("b", docs(1).vector.toSeq))
      .toDF("query_id", "query_vec")
      .select(col("query_id"), col("query_vec").cast("array<float>").as("query_vec"))
    val viaDf = e.searchVectorsDf("ivdf", qDf, 3)
      .select("query_id", "id", "rnk").as[(String, String, Long)].collect().toSet
    val viaSeq = e.searchVectors("ivdf",
        Seq(("a", docs(0).vector), ("b", docs(1).vector)), 3)
      .select("query_id", "id", "rnk").as[(String, String, Long)].collect().toSet
    assert(viaDf === viaSeq)
    // flat collections route through the exact path and agree too
    e.createCollection(CollectionConfig("fldf", 8, IndexType.Flat))
    e.batchUpsertDocuments("fldf", docs)
    val flatDf = e.searchVectorsDf("fldf", qDf, 3)
      .select("query_id", "id", "rnk").as[(String, String, Long)].collect().toSet
    val flatSeq = e.searchVectors("fldf",
        Seq(("a", docs(0).vector), ("b", docs(1).vector)), 3)
      .select("query_id", "id", "rnk").as[(String, String, Long)].collect().toSet
    assert(flatDf === flatSeq)
  }

  test("searchVectorsDf: ivfpq routes through the distributed ADC path, matches searchVectors") {
    import spark.implicits._
    val e = freshEngine(dim = 8)
    e.createCollection(CollectionConfig("pqdf", 8, IndexType.IvfPq))
    val rnd = new scala.util.Random(5)
    val docs = (0 until 120).map { i =>
      Document(i.toString, Array.tabulate(8)(j =>
        (if (j == i % 4 * 2) 6f else 0.3f) + rnd.nextGaussian().toFloat * 0.3f))
    }
    e.batchUpsertDocuments("pqdf", docs)
    e.buildIndex("pqdf", nlist = 4)
    val qDf = Seq(("a", docs(0).vector.toSeq), ("b", docs(1).vector.toSeq))
      .toDF("query_id", "query_vec")
      .select(col("query_id"), col("query_vec").cast("array<float>").as("query_vec"))
    val viaDf = e.searchVectorsDf("pqdf", qDf, 3)
      .select("query_id", "id", "rnk").as[(String, String, Long)].collect().toSet
    val viaSeq = e.searchVectors("pqdf",
        Seq(("a", docs(0).vector), ("b", docs(1).vector)), 3)
      .select("query_id", "id", "rnk").as[(String, String, Long)].collect().toSet
    assert(viaDf === viaSeq)
  }

  test("opq and sq collections: buildIndex, search, setparams, snapshot recovery") {
    import spark.implicits._
    val dir = testRoot("engine-extra")
    val e = new Engine(spark, dir)
    val rnd = new scala.util.Random(3)
    val docs = (0 until 150).map { i =>
      Document(i.toString, Array.tabulate(8)(j =>
        (if (j == (i % 4) * 2) 6f else 0.3f) + rnd.nextGaussian().toFloat * 0.3f))
    }
    for ((name, it) <- Seq(("opqc", IndexType.Opq), ("sqc", IndexType.Sq))) {
      e.createCollection(CollectionConfig(name, 8, it))
      e.batchUpsertDocuments(name, docs)
      e.buildIndex(name, nlist = 4)
      val hits = e.searchDocuments(name, docs(5).vector, 3)
      assert(hits.head.id === "5" && math.abs(hits.head.distance) < 1e-9,
        s"$name self-match failed: ${hits.map(h => (h.id, h.distance))}")
      // DF KNN-join surface agrees with the Seq surface
      val qDf = Seq(("a", docs(5).vector.toSeq)).toDF("query_id", "query_vec")
        .select(col("query_id"), col("query_vec").cast("array<float>").as("query_vec"))
      val viaDf = e.searchVectorsDf(name, qDf, 3)
        .select("id", "rnk").as[(String, Long)].collect().toSet
      val viaSeq = e.searchVectors(name, Seq(("a", docs(5).vector)), 3)
        .select("id", "rnk").as[(String, Long)].collect().toSet
      assert(viaDf === viaSeq, s"$name DF path diverged")
    }
    // nprobe valid for opq, invalid for sq
    e.setParams("opqc", Map("nprobe" -> 2))
    intercept[IllegalArgumentException](e.setParams("sqc", Map("nprobe" -> 2)))
    // a FRESH engine over the same root recovers both models from snapshots
    val e2 = new Engine(spark, dir)
    assert(e2.searchDocuments("opqc", docs(7).vector, 1).head.id === "7")
    assert(e2.searchDocuments("sqc", docs(7).vector, 1).head.id === "7")
    // hamming rejected for both (no silent fallback)
    e.createCollection(CollectionConfig("badopq", 8, IndexType.Opq, SpaceType.Hamming))
    e.batchUpsertDocuments("badopq", docs.take(5))
    intercept[IllegalArgumentException](e.buildIndex("badopq"))
    e.createCollection(CollectionConfig("badsq", 8, IndexType.Sq, SpaceType.Cos))
    e.batchUpsertDocuments("badsq", docs.take(5))
    intercept[IllegalArgumentException](e.buildIndex("badsq"))
  }

  test("bq collection: buildIndex, search across spaces, rerankFactor knob, snapshot recovery") {
    import spark.implicits._
    val dir = testRoot("engine-bq")
    val e = new Engine(spark, dir)
    val rnd = new scala.util.Random(9)
    val docs = (0 until 150).map { i =>
      Document(i.toString, Array.tabulate(8)(j =>
        (if (j == (i % 4) * 2) 6f else 0.3f) + rnd.nextGaussian().toFloat * 0.3f))
    }
    // bq serves every space: hamming candidates + exact re-rank in cfg space
    for ((name, space) <- Seq(("bql2", SpaceType.L2), ("bqcos", SpaceType.Cos))) {
      e.createCollection(CollectionConfig(name, 8, IndexType.Bq, space))
      e.batchUpsertDocuments(name, docs)
      e.buildIndex(name)
      val hits = e.searchDocuments(name, docs(5).vector, 3)
      assert(hits.head.id === "5" && math.abs(hits.head.distance) < 1e-6,
        s"$name self-match failed: ${hits.map(h => (h.id, h.distance))}")
      val viaDf = e.searchVectorsDf(name,
          Seq(("a", docs(5).vector.toSeq)).toDF("query_id", "query_vec")
            .select(col("query_id"), col("query_vec").cast("array<float>").as("query_vec")), 3)
        .select("id", "rnk").as[(String, Long)].collect().toSet
      val viaSeq = e.searchVectors(name, Seq(("a", docs(5).vector)), 3)
        .select("id", "rnk").as[(String, Long)].collect().toSet
      assert(viaDf === viaSeq, s"$name DF path diverged")
    }
    // rerankFactor is a validated bq/sq knob; nprobe/efsearch are not bq knobs
    e.setParams("bql2", Map("rerankFactor" -> 16))
    assert(e.searchDocuments("bql2", docs(7).vector, 1).head.id === "7")
    intercept[IllegalArgumentException](e.setParams("bql2", Map("nprobe" -> 2)))
    intercept[IllegalArgumentException](e.setParams("bql2", Map("efsearch" -> 10)))
    intercept[IllegalArgumentException](e.setParams("bql2", Map("rerankFactor" -> 0)))
    // a FRESH engine over the same root recovers the model from its snapshot
    val e2 = new Engine(spark, dir)
    assert(e2.searchDocuments("bql2", docs(7).vector, 1).head.id === "7")
  }

  test("mrl collection: model-free buildIndex, prefix-funnel search, knobs, fresh-engine serving") {
    import spark.implicits._
    val dir = testRoot("engine-mrl")
    val e = new Engine(spark, dir)
    val rnd = new scala.util.Random(11)
    // MRL-shaped corpus: the discriminative signal lives in the leading dims
    val docs = (0 until 150).map { i =>
      Document(i.toString, Array.tabulate(8)(j =>
        (if (j < 4 && j == i % 4) 6f else 0.3f) + rnd.nextGaussian().toFloat * 0.3f))
    }
    e.createCollection(CollectionConfig("mrlc", 8, IndexType.Mrl,
      params = Map("prefixDim" -> "4")))
    e.batchUpsertDocuments("mrlc", docs)
    e.buildIndex("mrlc")
    val hits = e.searchDocuments("mrlc", docs(5).vector, 3)
    assert(hits.head.id === "5" && math.abs(hits.head.distance) < 1e-9,
      s"mrl self-match failed: ${hits.map(h => (h.id, h.distance))}")
    // rerankFactor covering the corpus ⇒ exhaustive re-rank ≡ exact KNN
    e.setParams("mrlc", Map("rerankFactor" -> 50))
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    val exact = docs.map(d => (d.id, l2(docs(9).vector, d.vector)))
      .sortBy { case (id, dd) => (dd, id.toInt) }.take(5).map(_._1)
    assert(e.searchDocuments("mrlc", docs(9).vector, 5).map(_.id) === exact,
      "full-coverage mrl must equal exact KNN")
    e.setParams("mrlc", Map("rerankFactor" -> 4))
    // DF KNN-join surface agrees with the Seq surface
    val viaDf = e.searchVectorsDf("mrlc",
        Seq(("a", docs(5).vector.toSeq)).toDF("query_id", "query_vec")
          .select(col("query_id"), col("query_vec").cast("array<float>").as("query_vec")), 3)
      .select("id", "rnk").as[(String, Long)].collect().toSet
    val viaSeq = e.searchVectors("mrlc", Seq(("a", docs(5).vector)), 3)
      .select("id", "rnk").as[(String, Long)].collect().toSet
    assert(viaDf === viaSeq, "mrl DF path diverged")
    // plan-level evidence of the tier's IO story: the layout-served
    // shortlist stage scans (id, mrl_prefix) WITHOUT the vector column —
    // parquet column pruning is what makes the funnel cheaper than flat
    val planStr = e.searchVectorsDf("mrlc",
        Seq(("p", docs(5).vector.toSeq)).toDF("query_id", "query_vec")
          .select(col("query_id"), col("query_vec").cast("array<float>").as("query_vec")), 3)
      .queryExecution.executedPlan.toString
    val scanLines = planStr.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scanLines.exists(l => l.contains("mrl_prefix") && !l.contains("vector")),
      s"no vector-pruned (id, mrl_prefix) shortlist scan in:\n${scanLines.mkString("\n")}")
    // knob validation: nprobe/efsearch are not mrl knobs
    intercept[IllegalArgumentException](e.setParams("mrlc", Map("nprobe" -> 2)))
    intercept[IllegalArgumentException](e.setParams("mrlc", Map("efsearch" -> 10)))
    // a FRESH engine serves straight from the layout — no model to recover
    val e2 = new Engine(spark, dir)
    assert(e2.searchDocuments("mrlc", docs(7).vector, 1).head.id === "7")
    // prefixDim beyond the dimension fails at buildIndex, not silently
    e.createCollection(CollectionConfig("mrlbad", 8, IndexType.Mrl,
      params = Map("prefixDim" -> "9")))
    e.batchUpsertDocuments("mrlbad", docs.take(5))
    intercept[IllegalArgumentException](e.buildIndex("mrlbad"))
    // never-built mrl throws notBuilt like the model tiers — no silent
    // worse-than-flat re-slice serving
    e.createCollection(CollectionConfig("mrlnb", 8, IndexType.Mrl))
    e.batchUpsertDocuments("mrlnb", docs.take(5))
    intercept[IllegalStateException](e.searchDocuments("mrlnb", docs(0).vector, 1))
  }

  test("searchVectorsDf: oversized query set on a flat collection fails fast with routing hint") {
    import spark.implicits._
    val e = freshEngine(dim = 4)
    e.createCollection(CollectionConfig("guard", 4, IndexType.Flat))
    e.batchUpsertDocuments("guard",
      (0 until 10).map(i => Document(i.toString, Array(i.toFloat, 0f, 0f, 0f))))
    spark.conf.set("spark.graft.maxCollectQueries", "50")
    try {
      val bigQ = spark.range(51).select(
        col("id").cast("string").as("query_id"),
        org.apache.spark.sql.functions.array(
          col("id").cast("float"), col("id").cast("float"),
          col("id").cast("float"), col("id").cast("float")).as("query_vec"))
      val ex = intercept[IllegalArgumentException](e.searchVectorsDf("guard", bigQ, 3))
      assert(ex.getMessage.contains("ivf_flat"), s"no routing hint in: ${ex.getMessage}")
      // at the bound it still runs
      val okQ = bigQ.limit(50)
      assert(e.searchVectorsDf("guard", okQ, 3).groupBy("query_id").count().count() === 50L)
    } finally spark.conf.unset("spark.graft.maxCollectQueries")
  }

  test("hnsw collection honors M/efConstruction params and efsearch (F-1 docs3 config)") {
    val e = freshEngine()
    e.createCollection(CollectionConfig("docs3", 3, IndexType.Hnsw,
      SpaceType.L2, Map("M" -> "16", "efConstruction" -> "100")))
    e.upsertDocument("docs3", Document("1", Array(1f, 2f, 3f)))
    e.upsertDocument("docs3", Document("2", Array(4f, 5f, 6f)))
    e.setParams("docs3", Map("efsearch" -> 64))
    val hits = e.searchDocuments("docs3", Array(1f, 2f, 3f), 2)
    assert(hits.map(_.id) === Seq("1", "2"))
    assert(hits.map(_.distance) === Seq(0.0, 27.0)) // graph tier, exact on tiny corpus
  }

  test("embedding path: deterministic fake provider; missing text errors (F-5)") {
    val e = freshEngine(dim = 8)
    e.createCollection(CollectionConfig("emb", 8, IndexType.Flat))
    e.upsertWithEmbedding("emb", "1", "hello world")
    e.upsertWithEmbedding("emb", "2", "hello world")
    val (v1, v2) = (e.getDocument("emb", "1").get.vector, e.getDocument("emb", "2").get.vector)
    assert(v1.toSeq === v2.toSeq) // deterministic
    intercept[IllegalArgumentException](e.upsertWithEmbedding("emb", "3", ""))
    // self-search returns the embedded docs
    val hits = e.searchDocuments("emb", v1, 2)
    assert(hits.map(_.id).toSet === Set("1", "2"))
    assert(math.abs(hits.head.distance) < 1e-9)
  }

  test("empty query batch returns an empty frame on the local-serve tiers (chunked split must not crash)") {
    val root = testRoot("emptyq")
    val e = new Engine(spark, root)
    e.createCollection(CollectionConfig("c", 3, IndexType.IvfFlat, SpaceType.L2))
    (0 until 10).foreach(i =>
      e.upsertDocument("c", Document(s"d$i", Array(i.toFloat, 0f, 0f))))
    e.buildIndex("c", nlist = 2)
    assert(e.searchVectors("c", Seq.empty, 3).count() === 0L)
    // routed graph tier too (its chunk split is a separate code path)
    e.createCollection(CollectionConfig("g", 3, IndexType.Hnsw, SpaceType.L2,
      params = Map("routeNlist" -> "2")))
    (0 until 10).foreach(i =>
      e.upsertDocument("g", Document(s"d$i", Array(i.toFloat, 0f, 0f))))
    e.buildIndex("g")
    e.setParams("g", Map("routeNprobe" -> 2))
    assert(e.searchVectors("g", Seq.empty, 3).count() === 0L)
  }

  test("200-query point batch AUTO-SPLITS onto the zero-job serve: warm run job-free, rows ≡ distributed plan") {
    // VERDICT-r10 watch item 2: a batch past the 16-query chunk previously
    // fell off the local fast path silently; now it chunks over the same
    // held cells. Row-identity vs the distributed plan AND zero warm jobs.
    val root = testRoot("autosplit")
    val e = new Engine(spark, root)
    val dim = 4
    val rnd = new scala.util.Random(11)
    val docs = (0 until 120).map(i =>
      Document(f"d$i%03d", Array.fill(dim)(rnd.nextFloat())))
    e.createCollection(CollectionConfig("c", dim, IndexType.IvfFlat, SpaceType.L2))
    e.batchUpsertDocuments("c", docs)
    e.buildIndex("c", nlist = 4)
    e.setParams("c", Map("nprobe" -> 4)) // full fan-out: local ≡ exact
    val queries = (0 until 200).map(i =>
      (s"q$i", Array.fill(dim)(rnd.nextFloat())))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getLong(3))).sortBy(t => (t._1, t._4))
    // the distributed truth: the same queries through the batch plan
    import spark.implicits._
    val distributed = canon(e.searchVectorsDf("c",
      queries.toDF("query_id", "query_vec"), 3)
      .select(col("query_id").cast("string"), col("id").cast("string"),
        col("distance"), col("rnk")))
    val first = canon(e.searchVectors("c", queries, 3))
    assert(first === distributed, "auto-split local ≠ distributed plan")
    // warm repeat: all 13 chunks serve from held cells — ZERO jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val warm = canon(e.searchVectors("c", queries, 3))
      assert(warm === first)
      Thread.sleep(500)
      assert(jobs.get() === 0,
        s"warm 200-query auto-split batch launched ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a rebuild invalidates cached documents/search results") {
    // two well-separated clusters: one cell holds both, two cells split
    // them, and with nprobe 1 the rebuilt index answers from cluster A only
    val e = freshEngine(2)
    e.createCollection(CollectionConfig("c", 2, IndexType.IvfFlat, SpaceType.L2))
    val docs = (0 until 8).map(i => Document(s"a$i", Array(i * 0.1f, 0f))) ++
      (0 until 8).map(i => Document(s"b$i", Array(100f + i * 0.1f, 0f)))
    e.batchUpsertDocuments("c", docs)
    e.buildIndex("c", nlist = 1)
    e.setParams("c", Map("nprobe" -> 1))
    val q = Array(0.05f, 0f)
    val before = e.searchDocuments("c", q, 10)
    assert(before.count(_.id.startsWith("b")) === 2, s"one cell holds both clusters: $before")
    e.buildIndex("c", nlist = 2)
    val after = e.searchDocuments("c", q, 10)
    val uncached = e.searchVectors("c", Seq(("q", q)), 10).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getLong(3))).sortBy(_._3).toSeq
    assert(uncached.forall(_._1.startsWith("a")) && uncached.size === 8,
      s"the rebuilt index probes cluster A only: $uncached")
    assert(after.map(h => (h.id, h.distance, h.rank)) === uncached,
      "a search after the rebuild served the result cached against the old index")
  }

  test("searchHits: driver rows on a current layout, a named decline otherwise; validates once") {
    val e = freshEngine(2)
    e.createCollection(CollectionConfig("c", 2, IndexType.IvfFlat, SpaceType.L2))
    e.batchUpsertDocuments("c", (0 until 12).map(i => Document(s"d$i", Array(i.toFloat, 1f))))
    e.createCollection(CollectionConfig("f", 2, IndexType.Flat, SpaceType.L2))
    e.upsertDocument("f", Document("x", Array(1f, 1f)))
    e.buildIndex("c", nlist = 3)
    e.setParams("c", Map("nprobe" -> 3))
    val q = Seq(("q", Array(4.2f, 1f)))
    val hits = e.searchHits("c", q, 3).toOption.get
    assert(hits.map(_.id) === Seq("d4", "d5", "d3") && hits.map(_.rank) === Seq(1L, 2L, 3L))
    val rows = e.searchVectors("c", q, 3).collect()
      .map(r => SearchHit(r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(rows === hits)
    assert(e.searchHits("c", Seq.empty, 3) === Right(Seq.empty))
    assert(e.searchHits("c", q ++ q, 3) === Left(Decline.DuplicateQids))
    assert(e.searchHits("f", q, 3) === Left(Decline.NoLocalServe))
    for ((k, v) <- Seq((0, Array(1f, 1f)), (-1, Array(1f, 1f)),
        (3, Array(Float.PositiveInfinity, 1f)), (3, Array(1f, Float.NaN)), (3, Array(1f))))
      for (coll <- Seq("c", "f"))
        intercept[IllegalArgumentException](e.searchHits(coll, Seq(("q", v)), k))
  }

  test("runtime params survive a reopen: the first search returns the same hits with no Spark job") {
    val dir = testRoot("params-reopen")
    val e = new Engine(spark, dir)
    val rnd = new scala.util.Random(5)
    val docs = (0 until 60).map(i => Document(s"d$i", Array.fill(4)(rnd.nextFloat())))
    e.createCollection(CollectionConfig("g", 4, IndexType.Hnsw, SpaceType.L2,
      params = Map("routeNlist" -> "4")))
    e.createCollection(CollectionConfig("v", 4, IndexType.IvfFlat, SpaceType.L2))
    for (c <- Seq("g", "v")) { e.batchUpsertDocuments(c, docs); e.buildIndex(c, nlist = 8) }
    e.setParams("g", Map("routeNprobe" -> 3))
    e.setParams("g", Map("efsearch" -> 64))
    e.setParams("v", Map("nprobe" -> 3)) // the default would probe all 8 cells
    val q = Seq(("q", docs(7).vector))
    val before = Seq("g", "v").map(c => e.searchHits(c, q, 5))
    assert(before.forall(_.isRight), s"a search declined before the reopen: $before")
    // reopen as a restarted server: a new engine, the serving caches dropped
    graft.operators.GraphAnn.GraphCache.clear()
    graft.operators.LocalIvfServe.clearCells()
    graft.core.LocalPointReader.invalidateUnder("")
    val e2 = new Engine(spark, dir)
    assert(e2.getParams("g") === Map("routeNprobe" -> 3, "efsearch" -> 64))
    assert(e2.getParams("v") === Map("nprobe" -> 3))
    for ((c, hits) <- Seq("g", "v").zip(before)) {
      val (after, jobs) = jobsDuring(e2.searchHits(c, q, 5))
      assert(after === hits, s"$c answered differently after the reopen")
      assert(jobs === 0, s"the first search on $c after the reopen launched $jobs Spark job(s)")
    }
  }
}
