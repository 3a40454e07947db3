package graft

import org.apache.spark.sql.functions._

import graft.core.SpaceType
import graft.operators.{ExactKnn, GraphAnn}

/** Per-partition NSW graph ANN: recall vs exact oracle, efsearch-knob
  * monotonicity, multi-partition merge correctness.
  */
class GraphAnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))
    .repartition(4) // force multiple per-partition graphs + global merge
    .cache()
  private lazy val queries = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .filter(col("vec_id") < 20)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))
  private lazy val exact = ExactKnn.knn(emb, queries, 10, SpaceType.L2,
      corpusId = "vec_id", corpusVec = "embedding", queryId = "qid", queryVec = "qv")
    .select("qid", "vec_id").as[(Long, Long)].collect()
    .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def recallAt(ef: Int): Double = {
    val got = GraphAnn.search(emb, queries, 10, SpaceType.L2, ef = ef,
        corpusId = "vec_id", corpusVec = "embedding", queryId = "qid", queryVec = "qv")
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    exact.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / exact.size
  }

  test("tiny corpus, high ef: graph search is exact (ids + distances)") {
    val corpus = (1 to 30).map(i => (i.toString, Seq((i - 1).toFloat, 0f, 0f, 0f)))
      .toDF("id", "vector")
    val q = Seq(("q0", Seq(6f, 0f, 0f, 0f))).toDF("query_id", "query_vec")
    val got = GraphAnn.search(corpus, q, 3, SpaceType.L2, ef = 64)
      .orderBy("rnk").select("id", "distance")
      .as[(String, Double)].collect()
    assert(got.toSeq === Seq(("7", 0.0), ("6", 1.0), ("8", 1.0))) // flat_test.go:39-47
  }

  test("recall@10 >= 0.9 at ef=100 across 4 partition graphs") {
    val r = recallAt(100)
    assert(r >= 0.9, f"recall@10 $r%.3f < 0.9")
  }

  test("filtered beam: every hit eligible; recall vs exact-filtered; selective filter widens, not starves") {
    val embL = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
      .repartition(4).cache()
    def run(pred: org.apache.spark.sql.Column): Map[Long, Set[Long]] =
      GraphAnn.search(embL.withColumn("elig", pred), queries, 10, SpaceType.L2,
          ef = 80, corpusId = "vec_id", corpusVec = "embedding",
          queryId = "qid", queryVec = "qv", eligibleCol = Some("elig"))
        .select("qid", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def exactFiltered(pred: org.apache.spark.sql.Column): Map[Long, Set[Long]] =
      ExactKnn.knn(embL.filter(pred).select(col("vec_id"), col("embedding")),
          queries, 10, SpaceType.L2, corpusId = "vec_id",
          corpusVec = "embedding", queryId = "qid", queryVec = "qv")
        .select("qid", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((pred, name, okIds) <- Seq(
        (col("label") < 5, "label<5",
          embL.filter(col("label") < 5).select("vec_id").as[Long].collect().toSet),
        (col("label") === 0, "label=0 (~10% eligible)",
          embL.filter(col("label") === 0).select("vec_id").as[Long].collect().toSet))) {
      val got = run(pred)
      val truth = exactFiltered(pred)
      // iterate TRUTH keys (every query), not got: a query starved to zero
      // hits must fail the full-k assertion, not silently skip it
      truth.keys.foreach { qid =>
        val hits = got.getOrElse(qid, Set.empty)
        assert(hits.subsetOf(okIds), s"$name: ineligible hit for query $qid")
        assert(hits.size == math.min(10, okIds.size), s"$name: query $qid under-filled")
      }
      val rs = truth.map { case (qid, t) =>
        got.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size }
      val recall = rs.sum / rs.size
      assert(recall >= 0.85, f"$name: filtered recall@10 $recall%.2f below 0.85")
    }
    embL.unpersist()
  }

  test("executor graph cache: second search over a built hnsw layout skips rebuilds; writes invalidate") {
    import graft.api.Engine
    import graft.core._
    import graft.operators.GraphAnn
    val root = java.nio.file.Files.createTempDirectory("gcache").toString
    val e = new Engine(spark, root)
    e.createCollection(CollectionConfig("g", 4, IndexType.Hnsw))
    e.batchUpsertDocuments("g",
      (0 until 50).map(i => Document(i.toString, Array(i.toFloat, 0f, 0f, 0f))))
    e.buildIndex("g")
    GraphAnn.GraphCache.clear()

    val r1 = e.searchDocuments("g", Array(6f, 0f, 0f, 0f), 3)
    val buildsAfterFirst = GraphAnn.GraphCache.builds.get()
    assert(buildsAfterFirst > 0, "first search must build partition graphs")
    val r2 = e.searchDocuments("g", Array(7f, 0f, 0f, 0f), 3)
    assert(GraphAnn.GraphCache.builds.get() === buildsAfterFirst,
      "second search must reuse cached graphs")
    assert(r1.head.id === "6" && r2.head.id === "7")

    // a write makes the layout stale → falls back to uncached live corpus
    e.upsertDocument("g", Document("99", Array(6.1f, 0f, 0f, 0f)))
    val r3 = e.searchDocuments("g", Array(6.1f, 0f, 0f, 0f), 1)
    assert(r3.head.id === "99", "post-write search must see the new doc")
  }

  test("efsearch knob: recall non-decreasing with wider beam (hnsw.go:171-204 analog)") {
    val lo = recallAt(10)
    val hi = recallAt(100)
    assert(hi >= lo, f"recall fell as ef grew: $lo%.3f -> $hi%.3f")
  }

  test("persisted graph layout: reload ≡ fresh build; reconstruction skips beam insertion") {
    val path = java.nio.file.Files.createTempDirectory("nsw-layout").toString + "/graph"
    val queries = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val fresh = GraphAnn.search(emb, queries, 10, SpaceType.L2, ef = 60,
        corpusId = "vec_id", corpusVec = "embedding", queryId = "qid", queryVec = "qv")
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    GraphAnn.buildLayout(emb, path, SpaceType.L2,
      corpusId = "vec_id", corpusVec = "embedding")
    val reloaded = GraphAnn.searchFromLayout(spark, path, queries, 10, SpaceType.L2,
        ef = 60, queryId = "qid", queryVec = "qv", corpusIdName = "vec_id")
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    assert(reloaded === fresh,
      "search over the reloaded adjacency diverged from the freshly built graphs")
    // with a cache key, the reconstruction itself is once-per-layout
    GraphAnn.GraphCache.clear()
    val b0 = GraphAnn.GraphCache.builds.get()
    val key = Some((path, 1L))
    GraphAnn.searchFromLayout(spark, path, queries, 5, SpaceType.L2, ef = 40,
      queryId = "qid", queryVec = "qv", cacheKey = key, corpusIdName = "vec_id").count()
    val afterFirst = GraphAnn.GraphCache.builds.get()
    assert(afterFirst > b0, "first layout search must reconstruct graphs")
    GraphAnn.searchFromLayout(spark, path, queries, 5, SpaceType.L2, ef = 40,
      queryId = "qid", queryVec = "qv", cacheKey = key, corpusIdName = "vec_id").count()
    assert(GraphAnn.GraphCache.builds.get() === afterFirst,
      "second layout search must reuse cached reconstructions")
  }

  test("levelMult plumbing: levelMult=0 builds single-layer layouts end to end (collection knob)") {
    // buildLayout(levelMult = 0) must export ONLY layer-0 adjacency — the
    // flat-NSW degenerate the docstring promises for the engine param
    val path = java.nio.file.Files.createTempDirectory("nsw-lm").toString + "/graph"
    GraphAnn.buildLayout(emb, path, SpaceType.L2,
      corpusId = "vec_id", corpusVec = "embedding", levelMult = 0.0)
    val layers = spark.read.parquet(path)
      .select(max(size(col("links")))).first().getInt(0)
    assert(layers === 1, s"levelMult=0 layout exported $layers layers, want 1")
    // default (NaN -> 1/ln M) builds a real hierarchy on the same corpus
    val path2 = java.nio.file.Files.createTempDirectory("nsw-lm2").toString + "/graph"
    GraphAnn.buildLayout(emb, path2, SpaceType.L2,
      corpusId = "vec_id", corpusVec = "embedding")
    val layers2 = spark.read.parquet(path2)
      .select(max(size(col("links")))).first().getInt(0)
    assert(layers2 > 1, "default levelMult should produce multi-layer nodes")
    // and the live search path accepts the knob (flat ≡ its own layout replay)
    val flatLive = GraphAnn.search(emb, queries, 10, SpaceType.L2, ef = 60,
        corpusId = "vec_id", corpusVec = "embedding", queryId = "qid",
        queryVec = "qv", levelMult = 0.0)
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    val flatLayout = GraphAnn.searchFromLayout(spark, path, queries, 10,
        SpaceType.L2, ef = 60, queryId = "qid", queryVec = "qv",
        corpusIdName = "vec_id")
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    assert(flatLive === flatLayout,
      "levelMult=0 live search diverged from its own persisted layout")
  }

  test("batched query path ≡ single-batch; builds shared across batches; driver never holds the full set") {
    // 450 queries with a 100-row batch bound → 5 batches in one job
    val manyQ = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val nQ = manyQ.count()
    assert(nQ > 300, s"fixture too small for a multi-batch test: $nQ")
    val single = GraphAnn.search(emb, manyQ, 5, SpaceType.L2, ef = 40,
        corpusId = "vec_id", corpusVec = "embedding", queryId = "qid", queryVec = "qv",
        queryBatchSize = Int.MaxValue)
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    GraphAnn.GraphCache.clear()
    val b0 = GraphAnn.GraphCache.builds.get()
    val batched = GraphAnn.search(emb, manyQ, 5, SpaceType.L2, ef = 40,
        corpusId = "vec_id", corpusVec = "embedding", queryId = "qid", queryVec = "qv",
        queryBatchSize = 100)
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    assert(batched === single, "batched query path diverged from single-batch path")
    // the ephemeral per-call cache key shares builds across batches: one
    // build per corpus partition, NOT per (batch × partition)
    val builds = GraphAnn.GraphCache.builds.get() - b0
    assert(builds == emb.rdd.getNumPartitions,
      s"expected one graph build per partition (${emb.rdd.getNumPartitions}), got $builds")
  }

  test("layer hierarchy: fewer distance computations than flat NSW at equal ef, recall preserved (hnswalg.h descent)") {
    // deterministic synthetic corpus: CLUSTERED (real embeddings are), so a
    // far-off entry point costs the flat beam real work to escape — the
    // case the hierarchy's descent exists for; tight ef stresses it
    val n = 8000; val dim = 16; val nClusters = 40
    def noise(seed: Long, scale: Float): Array[Float] = {
      var h = seed * 6364136223846793005L + 1442695040888963407L
      Array.fill(dim) {
        h = h * 6364136223846793005L + 1442695040888963407L
        ((((h >>> 33).toDouble / (1L << 31).toDouble) - 0.5) * scale).toFloat
      }
    }
    val centers = (0 until nClusters).map(c => noise(c.toLong, 10f))
    def vec(seed: Int): Array[Float] = {
      val c = centers(seed % nClusters)
      val d = noise(seed.toLong + 5000000L, 1f)
      Array.tabulate(dim)(i => c(i) + d(i))
    }
    val corpus = (0 until n).map(i => (i, vec(i)))
    val qs = (0 until 50).map(i => vec(1000000 + i))
    val truth = qs.map { q =>
      corpus.map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < dim) { val d = (q(i) - v(i)).toDouble; s += d * d; i += 1 }
        (id, s)
      }.sortBy(_._2).take(10).map(_._1).toSet
    }
    def runWith(levelMult: Double): (Double, Long) = {
      val idx = new GraphAnn.NswIndex(dim, 16, 100, SpaceType.L2, levelMult)
      corpus.foreach { case (id, v) => idx.insert(id, v) }
      idx.resetVisited()
      val recalls = qs.zip(truth).map { case (q, t) =>
        idx.search(q, 10, 40).map(_._1.asInstanceOf[Int]).toSet.intersect(t).size / 10.0
      }
      (recalls.sum / recalls.size, idx.visitedDistances)
    }
    val (recallHier, visitsHier) = runWith(Double.NaN) // default 1/ln(M) hierarchy
    val (recallFlat, visitsFlat) = runWith(0.0)        // every node at layer 0
    assert(visitsHier < visitsFlat,
      s"hierarchy did not reduce search work: $visitsHier vs flat $visitsFlat distance calls")
    assert(recallHier >= recallFlat - 0.03,
      f"hierarchy recall $recallHier%.3f fell more than 3pp below flat $recallFlat%.3f")
    assert(recallHier >= 0.85, f"hierarchical recall@10 $recallHier%.3f < 0.85")
  }

  test("coarse routing: probe accounting bounded by routeNprobe; recall survives; full probe ≡ every cell") {
    val nQ = queries.count()
    val nlist = 8
    // routed: each query beams through at most routeNprobe cells
    val probes = spark.sparkContext.longAccumulator("probes")
    val mdl = graft.operators.IvfIndex.train(emb, "embedding", nlist)
    val routed = GraphAnn.searchRouted(emb, queries, 10, SpaceType.L2,
        nlist = nlist, routeNprobe = 3, ef = 100,
        corpusId = "vec_id", corpusVec = "embedding", queryId = "qid", queryVec = "qv",
        model = Some(mdl), probeCounter = Some(probes))
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(probes.value <= nQ * 3,
      s"routed search touched ${probes.value} (query, cell) pairs > ${nQ * 3}")
    assert(probes.value < nQ * nlist,
      "routing did not reduce the probe fan-out at all")
    val recall = exact.map { case (q, t) =>
      routed.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / exact.size
    assert(recall >= 0.6, f"routed recall@10 $recall%.3f < 0.6 at routeNprobe=3/$nlist")
    // full probe: every query hits every non-empty cell — recall can only rise
    val probesFull = spark.sparkContext.longAccumulator("probesFull")
    val full = GraphAnn.searchRouted(emb, queries, 10, SpaceType.L2,
        nlist = nlist, routeNprobe = nlist, ef = 100,
        corpusId = "vec_id", corpusVec = "embedding", queryId = "qid", queryVec = "qv",
        model = Some(mdl), probeCounter = Some(probesFull))
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recallFull = exact.map { case (q, t) =>
      full.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / exact.size
    assert(recallFull >= recall,
      f"full-probe recall $recallFull%.3f below routed recall $recall%.3f")
    assert(recallFull >= 0.9, f"full-probe recall@10 $recallFull%.3f < 0.9")
  }

  test("routed layout round-trip: searchFromLayout(routeNprobe) ≡ live searchRouted, bit-exact") {
    val path = java.nio.file.Files.createTempDirectory("nsw-routed").toString + "/graph"
    val nlist = 8
    val mdl = GraphAnn.buildRoutedLayout(emb, path, SpaceType.L2, nlist = nlist,
      corpusId = "vec_id", corpusVec = "embedding")
    assert(mdl.nlist === nlist)
    val live = GraphAnn.searchRouted(emb, queries, 10, SpaceType.L2,
        nlist = nlist, routeNprobe = 3, ef = 80,
        corpusId = "vec_id", corpusVec = "embedding", queryId = "qid", queryVec = "qv",
        model = Some(mdl))
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    val persisted = GraphAnn.searchFromLayout(spark, path, queries, 10, SpaceType.L2,
        ef = 80, queryId = "qid", queryVec = "qv", corpusIdName = "vec_id",
        routeNprobe = Some(3))
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    assert(persisted === live,
      "routed search over the persisted layout diverged from the live cells")
    // back-compat: the routed layout is a plain layout to an unrouted reader,
    // and full-probe routing over it is exactly the unrouted fan-out
    val unrouted = GraphAnn.searchFromLayout(spark, path, queries, 10, SpaceType.L2,
        ef = 80, queryId = "qid", queryVec = "qv", corpusIdName = "vec_id")
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    val fullProbe = GraphAnn.searchFromLayout(spark, path, queries, 10, SpaceType.L2,
        ef = 80, queryId = "qid", queryVec = "qv", corpusIdName = "vec_id",
        routeNprobe = Some(nlist))
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    assert(fullProbe === unrouted,
      "full-probe routing must degenerate to the unrouted fan-out")
  }

  test("point-serve over dir-partitioned routed layout: partition-pruned scan, ≡ batch path, bounded queries") {
    val path = java.nio.file.Files.createTempDirectory("nsw-pruned").toString + "/graph"
    val nlist = 8
    GraphAnn.buildRoutedLayout(emb, path, SpaceType.L2, nlist = nlist,
      corpusId = "vec_id", corpusVec = "embedding")
    // the layout is physically partitioned by cell, and a probed-cells read
    // plans a PartitionFilters prune (scan bytes ∝ routeNprobe/nlist)
    assert(new java.io.File(path).listFiles().exists(_.getName.startsWith("part=")),
      "routed layout must be dir-partitioned by cell")
    val prunedPlan = spark.read.parquet(path).filter(col("part").isin(0, 1))
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters") && prunedPlan.contains("part"),
      s"probed-cells read did not plan a partition prune:\n$prunedPlan")
    val probes = spark.sparkContext.longAccumulator("batchProbes")
    val point = GraphAnn.searchPointLocal(spark, path, queries, 10, SpaceType.L2,
        ef = 80, routeNprobe = 3, queryId = "qid", queryVec = "qv",
        corpusIdName = "vec_id")
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    val batch = GraphAnn.searchFromLayout(spark, path, queries, 10, SpaceType.L2,
        ef = 80, queryId = "qid", queryVec = "qv", corpusIdName = "vec_id",
        routeNprobe = Some(3), probeCounter = Some(probes))
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    assert(point === batch,
      "point-serve diverged from the batch routed path over the same layout")
    assert(probes.value <= queries.count() * 3)
    // the guard that keeps this the POINT path
    intercept[IllegalArgumentException](
      GraphAnn.searchPointLocal(spark, path, queries, 10, SpaceType.L2,
        queryId = "qid", queryVec = "qv", maxQueries = 5))
  }

  test("engine routed hnsw: routeNlist builds the routed layout; routeNprobe is a validated runtime knob") {
    import graft.api.Engine
    import graft.core._
    val root = java.nio.file.Files.createTempDirectory("routed-engine").toString
    val e = new Engine(spark, root)
    // two far-apart clusters of 4-d points; routing must still find the
    // true nearest neighbor with routeNprobe=1 (query sits inside a cluster)
    e.createCollection(CollectionConfig("g", 4, IndexType.Hnsw,
      params = Map("routeNlist" -> "4")))
    val docs = (0 until 60).map { i =>
      val base = if (i % 2 == 0) 0f else 100f
      Document(i.toString, Array(base + i.toFloat / 100, base, 0f, 0f),
        Map("side" -> (if (i % 2 == 0) "even" else "odd")))
    }
    e.batchUpsertDocuments("g", docs)
    e.buildIndex("g")
    e.setParams("g", Map("routeNprobe" -> 1))
    val near42 = e.searchDocuments("g", Array(100.42f, 100f, 0f, 0f), 1)
    assert(near42.head.id === "41" || near42.head.id === "43",
      s"routed engine search missed the local cluster: got ${near42.head.id}")
    // FILTERED routed search: eligibility can be uncorrelated with vector
    // geometry — a predicate whose survivors all live OUTSIDE the query's
    // probed cells must still return full k (the serving path drops routing
    // for filtered requests: full fan-out over the persisted layout). The
    // query sits in the even (base 0) cluster; the predicate selects only
    // odd (base 100) docs — with routeNprobe=1 honored, every eligible doc
    // would be unreachable and this returned zero hits.
    val farFiltered = e.searchDocuments("g", Array(0.3f, 0f, 0f, 0f), 5,
      filter = Some(col("params")("side") === "odd"))
    assert(farFiltered.size === 5, "filtered routed search under-filled")
    farFiltered.foreach(h => assert(h.id.toInt % 2 == 1,
      s"ineligible hit ${h.id} on the filtered routed path"))
    // knob validation: bound by routeNlist; rejected without a routed layout
    intercept[IllegalArgumentException](e.setParams("g", Map("routeNprobe" -> 5)))
    e.createCollection(CollectionConfig("plain", 4, IndexType.Hnsw))
    intercept[IllegalArgumentException](e.setParams("plain", Map("routeNprobe" -> 1)))
    e.createCollection(CollectionConfig("flat", 4, IndexType.Flat))
    intercept[IllegalArgumentException](e.setParams("flat", Map("routeNprobe" -> 1)))
  }

  test("engine routed hnsw: first search after a maintained upsert, overwrite and delete launches zero Spark jobs; local ≡ distributed; a fold serves nothing stale") {
    import graft.api.Engine
    import graft.core._
    val root = java.nio.file.Files.createTempDirectory("routed-writes").toString
    val e = new Engine(spark, root)
    e.createCollection(CollectionConfig("g", 4, IndexType.Hnsw,
      params = Map("routeNlist" -> "4")))
    val rnd = new scala.util.Random(17)
    val docs = (0 until 80).map(i => Document(s"d$i", Array.fill(4)(rnd.nextFloat())))
    e.batchUpsertDocuments("g", docs)
    e.buildIndex("g")
    e.setParams("g", Map("routeNprobe" -> 2))
    val probe = docs(5).vector
    def rowsOf(df: org.apache.spark.sql.DataFrame, qid: String) =
      df.filter(col("query_id") === qid)
        .select(col("id").cast("string"), col("distance"), col("rnk"))
        .as[(String, Double, Long)].collect().sortBy(_._3).toSeq
    def local(qid: String) = rowsOf(e.searchVectors("g", Seq((qid, probe)), 6), qid)
    // a duplicated qid declines the driver-local serve: the distributed
    // pruned plan answers the same query
    def distributed(qid: String) = rowsOf(e.searchVectors("g",
      Seq(("__pad", probe), ("__pad", probe), (qid, probe)), 6), qid)
    local("warm")
    val writes = Seq[(String, () => Unit)](
      "maintained upsert" -> (() => e.upsertDocument("g", Document("fresh", probe.clone()))),
      "overwrite" -> (() => e.upsertDocument("g", Document("d9", probe.clone()))),
      "delete" -> (() => e.deleteDocument("g", "d5")))
    for ((what, write) <- writes) {
      write()
      val (l, jobs) = jobsDuring(local("q"))
      assert(jobs === 0, s"first search after the $what launched $jobs Spark job(s)")
      assert(l === distributed("q"), s"local ≢ distributed after the $what")
    }
    def live(hits: Seq[(String, Double, Long)]): Unit = {
      assert(hits.take(2).map(_._1).toSet === Set("fresh", "d9"), s"writes not served: $hits")
      assert(!hits.exists(_._1 == "d5"), s"deleted id served: $hits")
      assert(hits.map(_._1).distinct.size === hits.size, s"an id served twice: $hits")
    }
    live(local("q"))
    // a buildIndex fold moves the delta rows into the adjacency and retires
    // both sidecars: a stale delta would serve fresh/d9 twice, a stale
    // tombstone would hide the rebuilt d9
    e.buildIndex("g")
    val (folded, foldJobs) = jobsDuring(local("q"))
    assert(foldJobs === 0, s"first search after the fold launched $foldJobs Spark job(s)")
    live(folded)
    assert(folded === distributed("q"))
  }

  test("legacy single-layer layout (flat ARRAY<INT> links) still searches after the multi-layer schema change") {
    // pre-hierarchy builders persisted links as ARRAY<INT>; the reader must
    // reconstruct those as the one-layer graphs they are, not crash with a
    // cast error until a manual re-build
    val dir = java.nio.file.Files.createTempDirectory("nsw-legacy").toString
    val modern = s"$dir/modern"; val legacy = s"$dir/legacy"
    GraphAnn.buildLayout(emb, modern, SpaceType.L2,
      corpusId = "vec_id", corpusVec = "embedding", levelMult = 0.0)
    // levelMult=0 graphs are single-layer: links == [layer0] exactly, so the
    // legacy rewrite (strip the layer nesting) preserves the adjacency
    spark.read.parquet(modern)
      .withColumn("links", element_at(col("links"), 1))
      .write.parquet(legacy)
    import org.apache.spark.sql.types._
    val legacyLinks = spark.read.parquet(legacy).schema("links").dataType
    assert(legacyLinks === ArrayType(IntegerType, containsNull = true) ||
      legacyLinks === ArrayType(IntegerType, containsNull = false))
    def run(path: String) = GraphAnn.searchFromLayout(spark, path, queries, 10,
        SpaceType.L2, ef = 80, queryId = "qid", queryVec = "qv", corpusIdName = "vec_id")
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    assert(run(legacy) === run(modern),
      "legacy flat-links layout diverged from the same graph in modern schema")
  }

  test("routeNprobe above the trained cell count clamps to full fan-out instead of failing the search") {
    // k-means returns fewer centroids than the configured nlist on small
    // corpora; an accepted setparams routeNprobe must not turn every later
    // search into a 500
    import graft.api.Engine
    import graft.core._
    val root = java.nio.file.Files.createTempDirectory("routed-clamp").toString
    val e = new Engine(spark, root)
    e.createCollection(CollectionConfig("c", 4, IndexType.Hnsw,
      params = Map("routeNlist" -> "32")))
    e.batchUpsertDocuments("c",
      (0 until 10).map(i => Document(i.toString, Array(i.toFloat, 0f, 0f, 0f))))
    e.buildIndex("c") // trains at most 10 cells
    e.setParams("c", Map("routeNprobe" -> 16)) // valid vs configured nlist=32
    val hits = e.searchDocuments("c", Array(3.1f, 0f, 0f, 0f), 2)
    assert(hits.map(_.id) === Seq("3", "4"),
      s"clamped routed search wrong: ${hits.map(_.id)}")
    // and the direct layout paths agree with explicit full fan-out
    val path = java.nio.file.Files.createTempDirectory("clamp-direct").toString + "/g"
    GraphAnn.buildRoutedLayout(emb, path, SpaceType.L2, nlist = 4,
      corpusId = "vec_id", corpusVec = "embedding")
    def run(p: Int) = GraphAnn.searchFromLayout(spark, path, queries, 10,
        SpaceType.L2, ef = 80, queryId = "qid", queryVec = "qv",
        corpusIdName = "vec_id", routeNprobe = Some(p))
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    assert(run(999) === run(4), "over-probe must clamp to the full fan-out")
  }

  test("missing _route sidecar yields the actionable error, not a raw path failure") {
    val path = java.nio.file.Files.createTempDirectory("no-route").toString + "/g"
    GraphAnn.buildLayout(emb, path, SpaceType.L2,
      corpusId = "vec_id", corpusVec = "embedding")
    val ex = intercept[IllegalArgumentException](
      GraphAnn.searchFromLayout(spark, path, queries, 10, SpaceType.L2,
        queryId = "qid", queryVec = "qv", corpusIdName = "vec_id",
        routeNprobe = Some(2)))
    assert(ex.getMessage.contains("buildRoutedLayout"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException](
      GraphAnn.searchPointLocal(spark, path, queries, 10, SpaceType.L2,
        routeNprobe = 2, queryId = "qid", queryVec = "qv", corpusIdName = "vec_id"))
    assert(ex2.getMessage.contains("buildRoutedLayout"), ex2.getMessage)
  }

  test("batch and point-serve share cache entries even with empty trailing cells") {
    import graft.operators.IvfIndex
    // a far-away last centroid attracts no points → the layout's observed
    // maxPart+1 < nlist; the cache key must name the CELL STRUCTURE so the
    // two paths still hit each other's entries
    val mdl = IvfIndex.train(emb, "embedding", 3, SpaceType.L2)
    val far = Array.fill(mdl.centroids(0).length)(1e6f)
    val padded = IvfIndex.Model(mdl.centroids :+ far, SpaceType.L2)
    val path = java.nio.file.Files.createTempDirectory("empty-cell").toString + "/g"
    GraphAnn.buildRoutedLayout(emb, path, SpaceType.L2, nlist = 4,
      corpusId = "vec_id", corpusVec = "embedding", model = Some(padded))
    assert(!new java.io.File(path).listFiles().exists(_.getName == "part=3"),
      "test setup: the far cell was supposed to stay empty")
    GraphAnn.GraphCache.clear()
    val key = Some((path, 1L))
    def collectSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    val batch = collectSet(GraphAnn.searchFromLayout(spark, path, queries, 10,
      SpaceType.L2, ef = 80, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", routeNprobe = Some(2), cacheKey = key))
    val builds = GraphAnn.GraphCache.builds.get()
    // a 1-byte budget makes every probed cell oversized, so the point path
    // searches them in its executor job, through the shared GraphCache
    val oldBudget = GraphAnn.maxLocalServeBytes
    val over0 = GraphAnn.localCellOversized.get()
    val point = try {
      GraphAnn.maxLocalServeBytes = 1L
      collectSet(GraphAnn.searchPointLocal(spark, path, queries, 10,
        SpaceType.L2, ef = 80, routeNprobe = 2, queryId = "qid", queryVec = "qv",
        corpusIdName = "vec_id", cacheKey = key))
    } finally GraphAnn.maxLocalServeBytes = oldBudget
    assert(GraphAnn.localCellOversized.get() > over0,
      "test setup: the probed cells were supposed to serve oversized")
    assert(point === batch)
    assert(GraphAnn.GraphCache.builds.get() === builds,
      "point-serve rebuilt cells the batch path had already cached")
  }

  test("driver-local point serve ≡ distributed pruned path; warm queries load nothing") {
    val path = java.nio.file.Files.createTempDirectory("local-serve").toString + "/g"
    GraphAnn.buildRoutedLayout(emb, path, SpaceType.L2, nlist = 8,
      corpusId = "vec_id", corpusVec = "embedding")
    val key = Some((path, 1L))
    def collectSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    val q3 = queries.limit(3)
    val pruned = collectSet(GraphAnn.searchFromLayout(spark, path, q3, 10,
      SpaceType.L2, ef = 80, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", routeNprobe = Some(3), cacheKey = key))
    val local = collectSet(GraphAnn.searchPointLocal(spark, path, q3, 10,
      SpaceType.L2, ef = 80, routeNprobe = 3, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", cacheKey = key))
    assert(local === pruned,
      "driver-local serving diverged from the distributed routed path")
    // warm repeat: every probed cell cached driver-side — no further loads
    val loads = GraphAnn.localCellLoads.get()
    val again = collectSet(GraphAnn.searchPointLocal(spark, path, q3, 10,
      SpaceType.L2, ef = 80, routeNprobe = 3, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", cacheKey = key))
    assert(again === local)
    assert(GraphAnn.localCellLoads.get() === loads,
      "warm point-serve queries must not reload cells")
    // delta rows merge exactly like the distributed exact-scan union: a
    // far-away synthetic vector must surface as the top hit for its query
    val far = Array.fill(spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("embedding")).first().getAs[scala.collection.Seq[Float]](0).length)(50f)
    val qFar = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(999L, far.toSeq)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("qv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    val withDelta = GraphAnn.searchPointLocal(spark, path, qFar, 1,
      SpaceType.L2, ef = 80, routeNprobe = 3, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", cacheKey = key,
      deltaRows = Array((12345L: Any, far)))
      .select("vec_id").as[Long].collect()
    assert(withDelta.toSeq === Seq(12345L),
      "delta row at distance 0 must rank first on the local path")
  }

  test("FILTERED driver-local point serve ≡ searchFromLayout(eligibleIds) bit-for-bit; warm filtered queries load nothing") {
    val path = java.nio.file.Files.createTempDirectory("local-filt").toString + "/g"
    GraphAnn.buildRoutedLayout(emb, path, SpaceType.L2, nlist = 8,
      corpusId = "vec_id", corpusVec = "embedding")
    val key = Some((path, 1L))
    val q3 = queries.limit(3)
    // eligibility deliberately uncorrelated with geometry (even ids)
    val eligLongs = emb.select(col("vec_id")).as[Long].collect()
      .filter(_ % 2 == 0).toSeq
    val eligSet: Set[Any] = eligLongs.map(x => x: Any).toSet
    def collectFull(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id", "distance", "rnk")
        .as[(Long, Long, Double, Long)].collect().toSet
    val distributed = collectFull(GraphAnn.searchFromLayout(spark, path, q3, 10,
      SpaceType.L2, ef = 80, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", cacheKey = key,
      eligibleIds = Some(eligLongs.toDF("id"))))
    val local = collectFull(GraphAnn.searchPointLocal(spark, path, q3, 10,
      SpaceType.L2, ef = 80, routeNprobe = 3, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", cacheKey = key, eligible = Some(eligSet)))
    assert(local === distributed,
      "filtered local serving diverged from searchFromLayout(eligibleIds)")
    assert(local.nonEmpty && local.forall(_._2 % 2 == 0), "ineligible hit served")
    // warm repeat loads nothing (full fan-out means all cells are now held)
    val loads = GraphAnn.localCellLoads.get()
    val again = collectFull(GraphAnn.searchPointLocal(spark, path, q3, 10,
      SpaceType.L2, ef = 80, routeNprobe = 3, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", cacheKey = key, eligible = Some(eligSet)))
    assert(again === local)
    assert(GraphAnn.localCellLoads.get() === loads,
      "warm filtered point-serve queries must not reload cells")
    // excludeIds composes (the tombstone shadow path): both paths drop it
    val excl: Set[Any] = Set(local.minBy(_._4)._2: Any)
    val dEx = collectFull(GraphAnn.searchFromLayout(spark, path, q3, 10,
      SpaceType.L2, ef = 80, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", cacheKey = key,
      eligibleIds = Some(eligLongs.toDF("id")), excludeIds = excl))
    val lEx = collectFull(GraphAnn.searchPointLocal(spark, path, q3, 10,
      SpaceType.L2, ef = 80, routeNprobe = 3, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", cacheKey = key, eligible = Some(eligSet),
      excludeIds = excl))
    assert(lEx === dEx && !lEx.exists(h => excl.contains(h._2)))
    // empty eligible set: zero hits on both paths, no beam explosion
    assert(GraphAnn.searchPointLocal(spark, path, q3, 10, SpaceType.L2,
      ef = 80, routeNprobe = 3, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", cacheKey = key,
      eligible = Some(Set.empty[Any])).isEmpty)
  }

  test("the serving cache budgets resident BYTES (dim-aware) and reports metrics") {
    val path = java.nio.file.Files.createTempDirectory("byte-budget").toString + "/g"
    GraphAnn.buildRoutedLayout(emb, path, SpaceType.L2, nlist = 8,
      corpusId = "vec_id", corpusVec = "embedding")
    val key = Some((path, 1L))
    def collectSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    val q3 = queries.limit(3)
    def serveLocal() = collectSet(GraphAnn.searchPointLocal(spark, path, q3, 10,
      SpaceType.L2, ef = 80, routeNprobe = 8, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", cacheKey = key))
    val truth = collectSet(GraphAnn.searchFromLayout(spark, path, q3, 10,
      SpaceType.L2, ef = 80, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", routeNprobe = Some(8), cacheKey = key))
    val oldBudget = GraphAnn.maxLocalServeBytes
    val evict0 = GraphAnn.localCellEvictions.get()
    // a budget just above the largest single cell's oversize threshold (so
    // every cell stays individually driver-loadable — the oversized path
    // has its own test) but far below the 8 cells' combined footprint: the
    // cache must evict along the way yet serve the exact same result
    // (in-flight requests hold direct references — eviction is a reload
    // cost only)
    val maxCellDisk = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part=")).map { d =>
        // match getContentSummary's view: ChecksumFileSystem hides .crc files
        d.listFiles().filterNot(_.getName.startsWith(".")).map(_.length()).sum
      }.max
    val budget = maxCellDisk * GraphAnn.LocalServeDiskExpansion * 2
    try {
      GraphAnn.maxLocalServeBytes = budget
      assert(serveLocal() === truth,
        "byte-budget eviction changed the served result")
      val m = GraphAnn.localServeMetrics
      assert(m("local_serve_evictions") > evict0,
        s"a sub-footprint budget must evict: $m")
      assert(m("local_serve_bytes") <= budget,
        s"resident bytes exceed the budget after the request: $m")
      assert(m("local_serve_bytes") > 0L, s"dim-aware accounting recorded nothing: $m")
      // a second pass reloads what was evicted — same answer, misses counted
      val miss0 = GraphAnn.localCellMisses.get()
      assert(serveLocal() === truth)
      assert(GraphAnn.localCellMisses.get() > miss0,
        "evicted cells must count as misses on the next request")
    } finally GraphAnn.maxLocalServeBytes = oldBudget
  }

  test("an oversized skewed-router cell serves distributed, never ballooning the driver cache") {
    import graft.operators.IvfIndex
    // adversarial router: one centroid at the data's scale, the rest far
    // away → ~the whole corpus lands in one cell, the shape that would
    // spike driver heap if collected before the byte budget can push back
    val dim = emb.select(col("embedding")).first()
      .getAs[scala.collection.Seq[Float]](0).length
    val near = Array.fill(dim)(0f)
    val far1 = Array.fill(dim)(1e6f)
    val far2 = Array.fill(dim)(-1e6f)
    val skewed = IvfIndex.Model(Array(near, far1, far2), SpaceType.L2)
    val path = java.nio.file.Files.createTempDirectory("oversized-cell").toString + "/g"
    GraphAnn.buildRoutedLayout(emb, path, SpaceType.L2, nlist = 3,
      corpusId = "vec_id", corpusVec = "embedding", model = Some(skewed))
    val giant = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part=")).map { d =>
        // match getContentSummary's view: ChecksumFileSystem hides .crc files
        d.listFiles().filterNot(_.getName.startsWith(".")).map(_.length()).sum
      }.max
    val key = Some((path, 1L))
    def collectSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    val q3 = queries.limit(3)
    val truth = collectSet(GraphAnn.searchFromLayout(spark, path, q3, 10,
      SpaceType.L2, ef = 80, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", routeNprobe = Some(3), cacheKey = key))
    val oldBudget = GraphAnn.maxLocalServeBytes
    try {
      // budget below the giant cell's oversize threshold: the local path
      // must refuse to collect it and route it through the distributed
      // fallback instead — identical results, resident bytes bounded
      GraphAnn.maxLocalServeBytes = giant * GraphAnn.LocalServeDiskExpansion - 1
      val over0 = GraphAnn.localCellOversized.get()
      val local = collectSet(GraphAnn.searchPointLocal(spark, path, q3, 10,
        SpaceType.L2, ef = 80, routeNprobe = 3, queryId = "qid", queryVec = "qv",
        corpusIdName = "vec_id", cacheKey = key))
      assert(local === truth,
        "oversized-cell distributed fallback diverged from the routed batch path")
      assert(GraphAnn.localCellOversized.get() > over0,
        "the giant cell was not routed through the oversized path")
      assert(GraphAnn.localServeMetrics("local_serve_bytes") <= GraphAnn.maxLocalServeBytes,
        "driver cache ballooned past the budget on a skewed router")
    } finally GraphAnn.maxLocalServeBytes = oldBudget
  }

  test("routeMaxCellRows splits a skewed router cell: bounded build tasks, search stays exact") {
    // adversarially skewed corpus: ~90% of rows in one tight cluster — the
    // shape that makes the routed build's wall clock equal one giant
    // sequential NSW-insertion task
    val n = 600
    val rows = (0 until n).map { i =>
      if (i < 540) (i.toLong, Seq(i * 1e-6f, 0f, 0f, 0f))
      else (i.toLong, Seq((i % 3) * 50f + 100f, (i % 7) * 10f, 0f, 0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    def maxPartRows(path: String): Long =
      spark.read.parquet(path).groupBy("part").count()
        .agg(max(col("count"))).first().getLong(0)
    // explicit skewed router (one centroid on the dense mass, three on the
    // sparse spread) — the worst case a data-driven k-means can converge to
    val skewedRouter = graft.operators.IvfIndex.Model(Array(
      Array(0f, 0f, 0f, 0f), Array(100f, 30f, 0f, 0f),
      Array(150f, 30f, 0f, 0f), Array(200f, 30f, 0f, 0f)), SpaceType.L2)
    val pathA = java.nio.file.Files.createTempDirectory("skew-nosplit").toString + "/g"
    val mdlA = GraphAnn.buildRoutedLayout(df, pathA, SpaceType.L2, nlist = 4,
      corpusId = "vec_id", corpusVec = "embedding", model = Some(skewedRouter))
    assert(maxPartRows(pathA) >= 500,
      s"test setup: skew was supposed to land in one cell, max=${maxPartRows(pathA)}")
    val pathB = java.nio.file.Files.createTempDirectory("skew-split").toString + "/g"
    val mdlB = GraphAnn.buildRoutedLayout(df, pathB, SpaceType.L2, nlist = 4,
      corpusId = "vec_id", corpusVec = "embedding", model = Some(skewedRouter),
      maxCellRows = 100L)
    assert(mdlB.nlist > mdlA.nlist,
      "splitting must refine the router where the data is dense")
    // k-means balance is approximate; the giant cell must still shrink to
    // the cap's order, not stay monolithic
    assert(maxPartRows(pathB) <= 200,
      s"split build still bounded by a giant cell: max=${maxPartRows(pathB)}")
    // sidecar centroid count matches the refined router (searchers read it)
    assert(spark.read.parquet(s"$pathB/_route").count() === mdlB.nlist.toLong)
    // full fan-out over the split layout ≡ exact KNN (same guarantee the
    // unsplit layout gives) — the refinement changed performance, not
    // semantics
    val q = df.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exactHits = ExactKnn.knn(df, q, 5, SpaceType.L2,
        corpusId = "vec_id", corpusVec = "embedding", queryId = "qid", queryVec = "qv")
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    val gotB = GraphAnn.searchFromLayout(spark, pathB, q, 5, SpaceType.L2,
        ef = 600, queryId = "qid", queryVec = "qv", corpusIdName = "vec_id",
        routeNprobe = Some(mdlB.nlist))
      .select("qid", "vec_id", "rnk").as[(Long, Long, Long)].collect().toSet
    assert(gotB === exactHits, "split routed layout diverged from exact at full fan-out")
    // pruned routing still finds the tight cluster's neighbors (the split
    // sub-centroids route INTO the dense region)
    val pruned = GraphAnn.searchFromLayout(spark, pathB, q, 5, SpaceType.L2,
        ef = 600, queryId = "qid", queryVec = "qv", corpusIdName = "vec_id",
        routeNprobe = Some(2))
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = exactHits.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val recall = truth.map { case (qq, t) =>
      pruned.getOrElse(qq, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / truth.size
    assert(recall >= 0.9, s"pruned routing over split cells lost recall: $recall")
  }

  test("an all-hits request with an evicted idType refreshes schema without a load job") {
    val path = java.nio.file.Files.createTempDirectory("idtype-refresh").toString + "/g"
    GraphAnn.buildRoutedLayout(emb, path, SpaceType.L2, nlist = 4,
      corpusId = "vec_id", corpusVec = "embedding")
    val key = Some((path, 7L))
    val q1 = queries.limit(1)
    def serve() = GraphAnn.searchPointLocal(spark, path, q1, 5,
      SpaceType.L2, ef = 80, routeNprobe = 2, queryId = "qid", queryVec = "qv",
      corpusIdName = "vec_id", cacheKey = key).count()
    val warm = serve()
    // simulate the skew the advisor flagged: cells stay cached but the
    // idType entry is evicted — the refresh must be a driver-side schema
    // read counted under its own metric, with loads and misses both flat
    GraphAnn.evictIdTypeForTest(path, 7L)
    val loads0 = GraphAnn.localCellLoads.get()
    val miss0 = GraphAnn.localCellMisses.get()
    val refresh0 = GraphAnn.localIdTypeRefreshes.get()
    assert(serve() === warm)
    assert(GraphAnn.localCellLoads.get() === loads0,
      "idType refresh must not count (or run) as a cell load")
    assert(GraphAnn.localCellMisses.get() === miss0,
      "all probed cells were cached — no miss should be recorded")
    assert(GraphAnn.localIdTypeRefreshes.get() === refresh0 + 1,
      "the schema refresh must be visible under its own counter")
  }

  test("ephemeral call graphs expire executor-side; build locks never outlive their entries") {
    GraphAnn.GraphCache.clear()
    val manyQ = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("qid"), col("embedding").as("qv")).limit(250)
    // 7 independent multi-batch calls, each minting its own ephemeral key —
    // the cache must retain only the bounded recent-calls window (old calls'
    // per-partition graphs AND their lock objects dropped in the executor
    // JVM itself, not by a driver-side sweep that cluster mode never ships)
    for (_ <- 0 until 7)
      GraphAnn.search(emb, manyQ, 5, SpaceType.L2, ef = 40,
        corpusId = "vec_id", corpusVec = "embedding", queryId = "qid", queryVec = "qv",
        queryBatchSize = 100).count()
    val parts = emb.rdd.getNumPartitions
    assert(GraphAnn.GraphCache.ephemeralCallCount <= 4,
      s"ephemeral window not bounded: ${GraphAnn.GraphCache.ephemeralCallCount} calls retained")
    assert(GraphAnn.GraphCache.entryCount <= 4 * parts,
      s"stale ephemeral graphs retained: ${GraphAnn.GraphCache.entryCount} entries for $parts partitions")
    assert(GraphAnn.GraphCache.lockCount <= GraphAnn.GraphCache.entryCount,
      s"lock map leaked past the cache: ${GraphAnn.GraphCache.lockCount} locks vs " +
        s"${GraphAnn.GraphCache.entryCount} entries")
  }
}
