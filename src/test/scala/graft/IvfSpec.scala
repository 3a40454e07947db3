package graft

import org.apache.spark.sql.functions._

import graft.core.SpaceType
import graft.operators.{ExactKnn, IvfIndex}

/** IVF_FLAT vs FIXTURES F-6 (two separated clusters; nprobe=1 prunes to the
  * near cluster, nprobe=nlist ≡ exact) + recall gate on real embeddings
  * (BASELINE.md: recall@10 ≥ 0.85 at defaults).
  */
class IvfSpec extends SparkSpec {
  import spark.implicits._

  test("F-6: two clusters, nprobe=1 returns only near-cluster members; nprobe=2 ≡ exact") {
    // cluster A around (0,0) ids 1..50, cluster B around (100,100) ids 51..100
    val pts = (1 to 100).map { i =>
      val base = if (i <= 50) 0f else 100f
      (i.toString, Seq(base + (i % 5) * 0.1f, base + (i % 7) * 0.1f))
    }
    val corpus = pts.toDF("id", "vector")
    val model = IvfIndex.train(corpus, "vector", nlist = 2)
    val assigned = IvfIndex.assign(corpus, "vector", model).cache()
    val queries = Seq(("q", Seq(0.2f, 0.2f))).toDF("query_id", "query_vec")

    val near = IvfIndex.search(assigned, queries, model, k = 10, nprobe = 1)
      .select("id").as[String].collect().toSet
    assert(near.forall(_.toInt <= 50), s"nprobe=1 leaked far-cluster ids: $near")

    val full = IvfIndex.search(assigned, queries, model, k = 10, nprobe = 2)
      .select("id", "rnk").as[(String, Long)].collect().sortBy(_._2).map(_._1)
    val exact = ExactKnn.knn(corpus, queries, 10, SpaceType.L2)
      .select("id", "rnk").as[(String, Long)].collect().sortBy(_._2).map(_._1)
    assert(full.toSeq === exact.toSeq, "nprobe=nlist must equal exact KNN")
  }

  test("nprobe bounds validated (ivf.go:407-413)") {
    val corpus = (1 to 20).map(i => (i.toString, Seq(i.toFloat, 0f))).toDF("id", "vector")
    val model = IvfIndex.train(corpus, "vector", nlist = 4)
    intercept[IllegalArgumentException](model.probe(Array(0f, 0f), 0))
    intercept[IllegalArgumentException](model.probe(Array(0f, 0f), 5))
  }

  /** BASELINE.md gate: recall@10 ≥ 0.85 on synthetic *clustered* data at
    * ~10% probe ratio (the regime IVF is built for).
    */
  test("recall@10 >= 0.85 on clustered synthetic data (nlist=10, nprobe=2)") {
    val rnd = new scala.util.Random(42)
    val pts = (0 until 500).map { i =>
      val c = i % 10
      val v = Array.tabulate(16)(j =>
        (if (j == c) 10f else 0f) + rnd.nextGaussian().toFloat * 0.5f)
      (i.toString, v.toSeq)
    }
    val corpus = pts.toDF("id", "vector")
    val queries = corpus.filter(col("id").cast("int") < 20)
      .select(col("id").as("query_id"), col("vector").as("query_vec"))
    val model = IvfIndex.train(corpus, "vector", nlist = 10)
    val assigned = IvfIndex.assign(corpus, "vector", model).cache()

    val approx = IvfIndex.search(assigned, queries, model, k = 10, nprobe = 2)
      .select("query_id", "id").as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = ExactKnn.knn(corpus, queries, 10, SpaceType.L2)
      .select("query_id", "id").as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.85, f"mean recall@10 $mean%.3f < 0.85")
  }

  /** The distributed probe path (no driver-side query collect) must produce
    * IDENTICAL results to the driver-probe path — same probe metric, same
    * (distance, id) tie-breaks — including for ip, whose coarse metric is
    * negative inner product.
    */
  test("searchDistributed ≡ search for l2 and ip; handles a large query set") {
    val rnd = new scala.util.Random(21)
    val pts = (0 until 400).map { i =>
      val c = i % 8
      (i.toString, Array.tabulate(16)(j =>
        (if (j == c * 2) 5f else 0.3f) + rnd.nextGaussian().toFloat * 0.4f).toSeq)
    }
    val corpus = pts.toDF("id", "vector")
    for (space <- Seq(SpaceType.L2, SpaceType.Ip)) {
      val model = IvfIndex.train(corpus, "vector", nlist = 8, space = space)
      val assigned = IvfIndex.assign(corpus, "vector", model).cache()
      val queries = corpus.filter(col("id").cast("int") < 30)
        .select(col("id").as("query_id"), col("vector").as("query_vec"))
      val a = IvfIndex.search(assigned, queries, model, k = 5, nprobe = 3)
        .select("query_id", "id", "rnk").as[(String, String, Long)].collect().toSet
      val b = IvfIndex.searchDistributed(assigned, queries, model, k = 5, nprobe = 3)
        .select("query_id", "id", "rnk").as[(String, String, Long)].collect().toSet
      assert(a === b, s"distributed path diverged from driver-probe path for ${space.name}")
    }
    // a query set far beyond sane collect() sizes still plans and runs
    // (5k here; the plan shape is collect-free so 10^8 scales the same way)
    val model = IvfIndex.train(corpus, "vector", nlist = 8)
    val assigned = IvfIndex.assign(corpus, "vector", model).cache()
    val bigQ = spark.range(5000).select(col("id").cast("string").as("query_id"),
      array((0 until 16).map(j => (rand(j) * 5).cast("float")): _*).as("query_vec"))
    val res = IvfIndex.searchDistributed(assigned, bigQ, model, k = 3, nprobe = 2)
    assert(res.groupBy("query_id").count().count() === 5000L)
  }

  /** A join-strategy hint survives AQE re-planning, so pinning the cluster
    * equi-join with a bare merge hint would force a full corpus
    * shuffle+sort even for a handful of serving queries. The guard
    * (vfn.joinCorpusStreamed) must instead broadcast a tiny probe frame —
    * zero corpus-side Exchange — while the threshold-off regime below
    * (the big-probe-frame case) keeps the corpus off the build side.
    */
  test("cluster equi-join: a tiny probe frame broadcasts, never a forced corpus sort-merge") {
    val pts = (0 until 300).map(i => (i.toString, Seq.tabulate(8)(j =>
      (if (j == i % 4 * 2) 5f else 0.2f) + (i % 7) * 0.01f)))
    val corpus = pts.toDF("id", "vector")
    val model = IvfIndex.train(corpus, "vector", nlist = 4)
    val assigned = IvfIndex.assign(corpus, "vector", model).cache()
    assigned.count()
    val tinyQ = (0 until 4).map(i => (s"q$i", Seq.tabulate(8)(_ * 0.1f)))
      .toDF("query_id", "query_vec")
    val res = IvfIndex.searchDistributed(assigned, tinyQ, model, k = 3, nprobe = 2)
    res.collect()
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"tiny probe frame should broadcast into the corpus scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"tiny probe frame must not force a corpus-wide sort-merge:\n$plan")
    assigned.unpersist()
  }

  /** nprobe is the recall knob: recall non-decreasing in nprobe on the real
    * (diffuse) embeddings, exact at nprobe = nlist.
    */
  test("nprobe sweep on sf0.001 embeddings: recall rises to 1.0 at nprobe=nlist") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").cast("string").as("id"), col("embedding").as("vector"))
    val queries = emb.filter(col("id").cast("long") < 10)
      .select(col("id").as("query_id"), col("vector").as("query_vec"))
    val model = IvfIndex.train(emb, "vector", nlist = 10)
    val assigned = IvfIndex.assign(emb, "vector", model).cache()
    val exact = ExactKnn.knn(emb, queries, 10, SpaceType.L2)
      .select("query_id", "id").as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    def recall(nprobe: Int): Double = {
      val approx = IvfIndex.search(assigned, queries, model, k = 10, nprobe = nprobe)
        .select("query_id", "id").as[(String, String)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val rs = exact.map { case (q, truth) =>
        approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      rs.sum / rs.size
    }
    val sweep = Seq(1, 4, 10).map(recall)
    assert(sweep == sweep.sorted, s"recall not monotone over nprobe: $sweep")
    assert(sweep.last === 1.0, s"nprobe=nlist must be exact, got ${sweep.last}")
  }

  /** One probe order: the driver `Model.probe` and the distributed
    * `nearest_centroids` column are the same kernel, so a query with a NaN
    * component (every distance NaN) gets the same order on both — and on
    * both evaluation paths of the expression — instead of an
    * out-of-bounds crash.
    */
  test("NaN query: model.probe ≡ nearest_centroids (codegen and interpreted), l2 and ip") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{Bridge, NearestCentroids}
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val cents = Array(Array(0f, 0f), Array(3f, 1f), Array(-1f, 2f), Array(3f, 1f))
    val qs = Seq(Array(Float.NaN, 0f), Array(0.5f, Float.NaN), Array(Float.NaN, Float.NaN),
      Array(2.9f, 1.1f))
    val df = qs.zipWithIndex.map { case (q, i) => (i, q.toSeq) }.toDF("i", "q").cache()
    val centsLit = Literal.create(cents.map(_.toSeq).toSeq, ArrayType(ArrayType(FloatType)))
    for (space <- Seq(SpaceType.L2, SpaceType.Ip); nprobe <- Seq(1, 3, 4)) {
      val model = IvfIndex.Model(cents, space)
      val (generated, interpreted) = codegenAndInterpreted {
        df.select(col("i"), Bridge.column(NearestCentroids(Bridge.expression(col("q")),
            centsLit, Literal(nprobe), ip = space == SpaceType.Ip)))
          .as[(Int, Seq[Int])].collect().toMap
      }
      qs.zipWithIndex.foreach { case (q, i) =>
        val want = model.probe(q, nprobe)
        assert(generated(i) === want, s"[$space nprobe=$nprobe] codegen, query $i")
        assert(interpreted(i) === want, s"[$space nprobe=$nprobe] interpreted, query $i")
      }
    }
    df.unpersist()
  }
}
