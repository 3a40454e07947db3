package graft

import org.apache.spark.sql.functions._

import graft.core.SpaceType
import graft.operators.ExactKnn

/** TopKByDistance aggregate ≡ the window group-limit plan, across id types
  * and tie patterns.
  */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  test("knnAgg matches knn (window) exactly on sf0.001 embeddings (long ids)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val a = ExactKnn.knn(emb, q, 10, SpaceType.L2,
        corpusId = "vec_id", corpusVec = "embedding")
      .select("query_id", "vec_id", "distance", "rnk")
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    val b = ExactKnn.knnAgg(emb, q, 10, SpaceType.L2,
        corpusId = "vec_id", corpusVec = "embedding")
      .select("query_id", "vec_id", "distance", "rnk")
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    assert(a.toSeq === b.toSeq)
  }

  test("string ids + ties: deterministic id-ascending tie-break (flat fixture)") {
    val corpus = (1 to 20).map(i => (i.toString, Seq((i - 1).toFloat, 0f, 0f, 0f)))
      .toDF("id", "vector")
    val queries = Seq(("q0", Seq(6f, 0f, 0f, 0f))).toDF("query_id", "query_vec")
    val got = ExactKnn.knnAgg(corpus, queries, 5, SpaceType.L2)
      .orderBy("rnk").select("id", "distance")
      .as[(String, Double)].collect()
    // dist 1 tie between "6"/"8" → id order; dist 4 tie between "5"/"9"
    assert(got.toSeq === Seq(("7", 0.0), ("6", 1.0), ("8", 1.0), ("5", 4.0), ("9", 4.0)))
  }

  test("lazily grown buffers ≡ sort-and-take at k ∈ {1, 15, 16, 17, 1000}") {
    import org.apache.spark.sql.graft.TopKBuffer
    val rnd = new scala.util.Random(11)
    // coarse distances force ties, so the id tie-break is exercised too
    val rows = (0 until 1500).map(i => (rnd.nextInt(3), rnd.nextInt(200) / 4.0, i.toLong))
    val ord = Ordering.Long.on[Any](_.asInstanceOf[Long])
    val df = rows.toDF("g", "distance", "id").repartition(4)
    for (k <- Seq(1, 15, 16, 17, 1000)) {
      def want(g: Int) = rows.filter(_._1 == g).map(r => (r._2, r._3))
        .sortBy(identity).take(k)
      // the buffer alone: inserts past each doubling keep the heap exact
      val buf = new TopKBuffer(k)
      rows.filter(_._1 == 0).foreach(r => buf.insert(r._2, r._3, ord))
      assert(buf.sorted(ord).toSeq.map(e => (e._1, e._2.asInstanceOf[Long])) === want(0),
        s"k=$k: driver buffer")
      // through the aggregate: partial buffers serialized, merged, evaluated
      val got = graft.functions.vfn.topKHits(df, col("distance"), "g", "id", k)
        .as[(Int, Long, Double, Long)].collect().groupBy(_._1)
      for (g <- 0 until 3)
        assert(got(g).sortBy(_._4).toSeq.map(r => (r._3, r._2)) === want(g),
          s"k=$k group $g: aggregate")
    }
  }

  test("partial aggregation: plan shows partial_topk before the exchange") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val plan = ExactKnn.knnAgg(emb, q, 10, SpaceType.L2,
      corpusId = "vec_id", corpusVec = "embedding")
      .queryExecution.executedPlan.toString
    // knnAgg now plans the FUSED one-pass scan (partial_topk_all_queries);
    // the assertion's intent is unchanged — a bounded partial aggregate
    // before the exchange, never the full candidate set
    assert(plan.contains("partial_topk"),
      s"expected partial aggregation in:\n$plan")
    assert(plan.contains("topk_all_queries"),
      s"expected the fused one-pass scan in:\n$plan")
  }

  test("fused scan falls back to the join plan above the query bound and results agree") {
    // force the fallback with an unsupported qid TYPE (double) — the same
    // code path a >MaxFusedQueries set takes, testable without 8k rows
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val qLong = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val qDouble = qLong.select(col("query_id").cast("double").as("query_id"),
      col("query_vec"))
    val fusedPlan = ExactKnn.knnAgg(emb, qLong, 5, SpaceType.L2,
      corpusId = "vec_id", corpusVec = "embedding")
    val fallback = ExactKnn.knnAgg(emb, qDouble, 5, SpaceType.L2,
      corpusId = "vec_id", corpusVec = "embedding")
    assert(!fallback.queryExecution.executedPlan.toString.contains("topk_all_queries"),
      "double qid must take the broadcast-join fallback")
    val a = fusedPlan.select(col("query_id").cast("double"), col("vec_id"),
        col("distance"), col("rnk"))
      .as[(Double, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    val b = fallback.select(col("query_id"), col("vec_id"), col("distance"), col("rnk"))
      .as[(Double, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    assert(a.toSeq === b.toSeq, "fused and fallback plans must agree bit-for-bit")
  }

  test("duplicate or null query ids route to the join plan, never a per-row fused answer") {
    // the join fallback groupBy(qid)-merges duplicate query ROWS into one
    // heap; a per-row fused answer would emit k rows per ROW — the two
    // plans must never disagree on the same input, so ambiguity must
    // decline the fused shape
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val dup = q.union(q.limit(1)) // qid 0 appears twice
    val planned = ExactKnn.knnAgg(emb, dup, 5, SpaceType.L2,
      corpusId = "vec_id", corpusVec = "embedding")
    assert(!planned.queryExecution.executedPlan.toString.contains("topk_all_queries"),
      "duplicate qids must take the join fallback")
    val withNull = q.union(emb.filter(col("vec_id") === 7)
      .select(lit(null).cast("long").as("query_id"), col("embedding").as("query_vec")))
    val plannedNull = ExactKnn.knnAgg(emb, withNull, 5, SpaceType.L2,
      corpusId = "vec_id", corpusVec = "embedding")
    assert(!plannedNull.queryExecution.executedPlan.toString.contains("topk_all_queries"),
      "null qids must take the join fallback")
    // distinct non-null ids keep the fused plan (the guard isn't over-broad)
    val clean = ExactKnn.knnAgg(emb, q, 5, SpaceType.L2,
      corpusId = "vec_id", corpusVec = "embedding")
    assert(clean.queryExecution.executedPlan.toString.contains("topk_all_queries"),
      "distinct qids must keep the fused plan")
  }
}
