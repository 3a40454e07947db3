package graft

import org.apache.spark.sql.functions.col

/** Physical-plan regressions: the properties that make these queries scale —
  * pushdown, pruning, broadcast choice, partial group-limit — must survive
  * refactors. (The 100 TB argument lives in these assertions.)
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("q1: shipdate filter reaches the parquet scan; scan is column-pruned") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_partkey"), "scan must not read unused columns")
    assert(p.count(_ == 'E') > 0 && "Exchange".r.findAllIn(p).size == 1,
      "q1 should have exactly one exchange (the group-by)")
  }

  test("q3: dimension sides broadcast; top-10 via TakeOrderedAndProject") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"))
  }

  test("point lookup: id predicate pushed to the scan (LSM Get parity)") {
    val p = plan("point_lookup")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]"))
  }

  test("knn: partial window group-limit runs BEFORE the exchange; queries broadcast") {
    val p = plan("knn_l2")
    val partialIdx = p.indexOf("row_number(), 10, Partial")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0 && exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"partial group-limit must sit below (after in text) the exchange:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("best_per_source: rank filter plans a partial window group-limit before the exchange") {
    val p = plan("best_per_source")
    val partialIdx = p.indexOf("row_number(), 20, Partial")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0 && exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"per-source top-N must forward at most N rows per source map-side:\n$p")
  }

  test("chunk_overlap: pure per-row explode — zero exchanges") {
    val p = plan("chunk_overlap")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("quality_quartile: both windows share one source shuffle") {
    val p = plan("quality_quartile")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"rank + count windows over the same key must reuse one exchange:\n$p")
  }

  test("nn_join: custom topk aggregate does partial aggregation map-side") {
    val p = plan("nn_join")
    // the fused one-pass scan (topk_all_queries) or the per-pair aggregate
    // (topk_by_distance) — either way a PARTIAL bounded heap rides before
    // the exchange
    assert(p.contains("partial_topk"))
  }

  test("lsh signature path is a codegen kernel, not a UDF") {
    val p = plan("lsh_knn")
    assert(p.contains("lsh_signatures"), s"expected the codegen kernel in:\n$p")
    assert(!p.contains("UDF("), s"lsh_knn plan must not contain a Scala UDF:\n$p")
  }

  test("pq serving plan scans the encoded layout and scores via codegen ADC, not a UDF") {
    // encoding runs once at build/spill time — the SERVING plan must read
    // the pre-encoded codes from parquet (no re-encode per query) and do
    // its ADC scoring through the codegen kernel
    val p = plan("pq_knn")
    assert(p.contains("adc_lookup_sum"), s"expected the ADC kernel in:\n$p")
    assert(!p.contains("pq_encode"),
      s"serving must read pre-encoded codes, not re-encode the corpus:\n$p")
    assert(!p.contains("UDF("), s"pq_knn plan must not contain a Scala UDF:\n$p")
  }

  test("pq encode (build) path is a codegen kernel, not a UDF") {
    import graft.operators.IvfPq
    val c = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val model = IvfPq.train(c, "embedding", nlist = 10, m = 8)
    val p = IvfPq.encode(c, "embedding", model)
      .queryExecution.executedPlan.toString
    assert(p.contains("pq_encode"), s"expected the codegen kernel in:\n$p")
    assert(!p.contains("UDF("), s"encode plan must not contain a Scala UDF:\n$p")
    import graft.operators.{BinaryQuant, IvfIndex, Opq, ScalarQuant}
    val dim = model.m * model.subDim
    val identity = Array.tabulate(dim, dim)((r, c) => if (r == c) 1f else 0f)
    val encodes = Seq(
      "sq_encode" -> ScalarQuant.encode(c, "embedding",
        ScalarQuant.Model(Array.fill(dim)(-1f), Array.fill(dim)(1f))),
      "bq_encode" -> BinaryQuant.encode(c, "embedding", BinaryQuant.Model(Array.fill(dim)(0f))),
      "mat_vec_mul" -> Opq.encode(c, "embedding", Opq.Model(identity, model, Array.empty)),
      "nearest_centroid" -> IvfIndex.assign(c, "embedding", model.coarse))
    for ((kernel, df) <- encodes) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains(kernel), s"expected the codegen kernel $kernel in:\n$plan")
      assert(!plan.contains("UDF("), s"$kernel plan must not contain a Scala UDF:\n$plan")
    }
  }

  test("range joins plan as equi-joins — never cartesian/nested-loop") {
    for (q <- Seq("concurrent_events", "concurrent_sessions")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q must not cross-join:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q must bin-equi-join:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"$q should hash/merge join on bins:\n$p")
    }
  }

  test("embed_neardup declares the banded LSH plan — never cartesian/nested-loop") {
    val p = plan("embed_neardup")
    assert(!p.contains("CartesianProduct"), s"embed_neardup must not cross-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"embed_neardup must band-equi-join:\n$p")
  }

  test("bm25/inverted index: posting aggregation is partial (map-side combine)") {
    val p = plan("bm25_keyword")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"tf aggregation should partial-aggregate map-side:\n$p")
    assert(!p.contains("UDF("), s"bm25 plan must stay UDF-free:\n$p")
  }

  test("outlier flags broadcast the tiny stats frame back — the stream side never re-shuffles") {
    for (q <- Seq("outlier_events", "outlier_iqr", "hourly_anomalies")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q stats join must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not shuffle the event/doc stream for the stats join:\n$p")
    }
  }

  test("passage_scrub: occurrence-row equi-joins only — never a pair/cartesian plan") {
    val p = plan("passage_scrub")
    assert(!p.contains("CartesianProduct"), s"must not cross-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"must equi-join:\n$p")
    assert(!p.contains("UDF("), s"gram build must stay codegen:\n$p")
  }
}
