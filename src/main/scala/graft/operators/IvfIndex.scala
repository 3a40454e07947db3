package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.SpaceType
import graft.functions.vfn

/** IVF_FLAT: coarse k-means quantizer + inverted-list layout + nprobe-pruned
  * search (reference `internal/index/ivf.go` — SURVEY §2.1 S2, §2.4 A2,
  * §2.3 J3, §7.2 step 5).
  *
  * Spark-first design:
  *  - training = distributed MLlib KMeans (k = nlist, maxIter = 40 matching
  *    `const.go:26-30`), not a hand-rolled Lloyd loop;
  *  - the "inverted lists" are a `partitionBy("cluster_id")` parquet layout —
  *    probing nprobe lists is *partition pruning*: the scan physically reads
  *    only the probed directories (`ivf.go:203-209`'s list scan becomes
  *    `cluster_id IN (...)` → PartitionFilters in the parquet scan);
  *  - probed centroids per query are computed driver-side from the tiny
  *    centroid table, then the candidate scan is an equi-join on cluster_id
  *    (theta→equi reduction of the KNN join, SURVEY J2);
  *  - nprobe is the runtime recall knob (`ivf.go:379-413` setparams).
  */
object IvfIndex {

  /** Trained coarse quantizer: nlist centroids (tiny, driver-resident;
    * persisted as a small parquet artifact like the reference's gob snapshot,
    * `ivf.go:252-293`).
    */
  case class Model(centroids: Array[Array[Float]], space: SpaceType) {
    def nlist: Int = centroids.length

    /** Nearest `nprobe` centroid ids for one query (driver-side; mirrors
      * `ivf.go:186-201`): ip ranks by negative inner product, every other
      * space by squared L2 — `QuantKernels.nearestCentroids`, the kernel
      * the distributed `nearest_centroids` probe calls.
      */
    def probe(q: Array[Float], nprobe: Int): Seq[Int] = {
      require(nprobe >= 1 && nprobe <= nlist,
        s"nprobe must be in [1, $nlist], got $nprobe") // ivf.go:407-413
      graft.kernels.QuantKernels.nearestCentroids(q, centroids, nprobe,
        ip = space == SpaceType.Ip).toSeq
    }
  }

  /** Quantizer training (like faiss) runs on a bounded sample: centroid
    * quality saturates long before the full corpus is seen, and a 100 TB
    * corpus must not be iterated 40 times. The sample is also repartitioned
    * to match its own size — iterative KMeans on a few thousand rows spread
    * over hundreds of partitions is pure scheduler overhead.
    */
  private[operators] def trainingSample(corpus: DataFrame, vecCol: String,
      cap: Long, seed: Long): (DataFrame, Long) = {
    val spark = corpus.sparkSession
    val n = corpus.count()
    val sampled =
      if (n > cap) corpus.select(col(vecCol)).sample(cap.toDouble / n, seed)
      else corpus.select(col(vecCol))
    val rows = math.min(n, cap)
    val parts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, (rows / 20000L).toInt))
    (sampled.repartition(parts), rows)
  }

  /** Train the coarse quantizer (distributed; deterministic via fixed seed;
    * k = nlist, maxIter = 40 matching `const.go:26-30`).
    */
  def train(corpus: DataFrame, vecCol: String, nlist: Int,
      space: SpaceType = SpaceType.L2, maxIter: Int = 40, seed: Long = 42L,
      trainCap: Long = 200000L): Model = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (sample, rows) = trainingSample(corpus, vecCol, trainCap, seed)
    val dim = sample.select(size(col(vecCol))).first().getInt(0)
    // Hybrid trainer: below ~2e8 flops/iteration a local multi-core Lloyd
    // beats MLlib's per-iteration job overhead by orders of magnitude; above
    // it, distributed KMeans takes over. Same deterministic seed either way.
    if (rows * nlist.toLong * dim <= 200000000L) {
      val pts = sample.as[Seq[Float]].collect().map(_.map(_.toDouble).toArray)
      Model(LocalKMeans.fit(pts, nlist, maxIter).map(_.map(_.toFloat)), space)
    } else {
      val feats = sample
        .as[Seq[Float]]
        .map(v => Tuple1(Vectors.dense(v.map(_.toDouble).toArray)))
        .toDF("features")
        .cache()
      val km = new KMeans().setK(nlist).setMaxIter(maxIter).setSeed(seed)
        .setFeaturesCol("features")
      val model = km.fit(feats)
      feats.unpersist()
      Model(model.clusterCenters.map(_.toArray.map(_.toFloat)), space)
    }
  }

  /** Assign every row to its nearest centroid — one argmin pass with the
    * codegen `NearestCentroid` kernel (no UDF, no shuffle; SURVEY J3). The
    * centroid table rides in the plan as a literal (codegen references it
    * as an object, not source text). Adds `cluster_id INT`.
    */
  def assign(corpus: DataFrame, vecCol: String, model: Model): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{Bridge, NearestCentroid}
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val centsLit = Literal.create(
      model.centroids.map(_.toSeq).toSeq, ArrayType(ArrayType(FloatType)))
    corpus.withColumn("cluster_id",
      Bridge.column(NearestCentroid(Bridge.expression(col(vecCol)), centsLit)))
  }

  /** Materialize the inverted-list layout: parquet partitioned by cluster_id,
    * so probed-list scans are physical partition pruning.
    */
  def write(corpus: DataFrame, vecCol: String, model: Model, path: String): Unit =
    assign(corpus, vecCol, model)
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)

  /** nprobe-pruned batch KNN over an assigned (or partitioned-loaded) corpus.
    * Queries (small) are collected driver-side to compute probe lists; the
    * candidate restriction is an equi-join on cluster_id, so only probed
    * partitions are scanned/scored. Top-k per query via window group-limit.
    */
  def search(
      assigned: DataFrame,
      queries: DataFrame,
      model: Model,
      k: Int,
      nprobe: Int,
      corpusId: String = "id",
      corpusVec: String = "vector",
      queryId: String = "query_id",
      queryVec: String = "query_vec"): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val qRows = queries.select(col(queryId), col(queryVec)).collect()
    val probes = qRows.flatMap { r =>
      val qid = r.get(0)
      val qv = r.getAs[scala.collection.Seq[Float]](1).toArray
      model.probe(qv, nprobe).map(cid => (qid, cid))
    }
    val probeDf = spark.createDataFrame(
        spark.sparkContext.parallelize(probes.toSeq.map(p => org.apache.spark.sql.Row(p._1, p._2)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__qid", queries.schema(queryId).dataType),
          org.apache.spark.sql.types.StructField("__cid", org.apache.spark.sql.types.IntegerType))))
    // Static IN-filter on the partition column guarantees partition pruning
    // at scan planning time (PartitionFilters in the parquet scan node);
    // the broadcast join then restricts candidates per-query.
    val allProbed = probes.map(_._2).distinct.toSeq
    val cand = assigned
      .filter(col("cluster_id").isin(allProbed: _*))
      .join(broadcast(probeDf), col("cluster_id") === col("__cid"))
      .join(broadcast(queries), col("__qid") === col(queryId))
    val dist = vfn.distance(col(corpusVec), col(queryVec), model.space)
    val w = Window.partitionBy(col(queryId)).orderBy(col("distance").asc, col(corpusId).asc)
    cand.withColumn("distance", dist)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(queryId), col(corpusId), col("distance"), col("rnk"))
  }

  /** nprobe-pruned batch KNN with NO driver-side query collection — the
    * scale path for huge query sets (a KNN-join of 10⁸ queries against the
    * corpus would OOM the driver in `search`). Probe lists are computed
    * row-by-row by the codegen `NearestCentroids` kernel (centroid table as
    * a plan literal), candidates come from an equi-join on cluster_id, and
    * the global top-k is the partial-aggregating bounded-heap TopK — every
    * stage is distributed and map-side combined. Results are identical to
    * `search` (same probe metric and (distance, id) tie-breaks).
    */
  def searchDistributed(
      assigned: DataFrame,
      queries: DataFrame,
      model: Model,
      k: Int,
      nprobe: Int,
      corpusId: String = "id",
      corpusVec: String = "vector",
      queryId: String = "query_id",
      queryVec: String = "query_vec"): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{Bridge, NearestCentroids}
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    require(nprobe >= 1 && nprobe <= model.nlist,
      s"nprobe must be in [1, ${model.nlist}], got $nprobe")
    val centsLit = Literal.create(
      model.centroids.map(_.toSeq).toSeq, ArrayType(ArrayType(FloatType)))
    val probed = queries
      .withColumn("__cid", explode(Bridge.column(NearestCentroids(
        Bridge.expression(col(queryVec).cast("array<float>")), centsLit,
        Literal(nprobe), ip = model.space == SpaceType.Ip))))
    // equi-join on the cluster id: corpus stays partitioned by cluster_id,
    // queries shuffle by probe target — no collect, and the CORPUS side is
    // never the broadcast build side (a compacted layout's small size
    // estimate flipped the plain join to "broadcast the corpus": 3× slower
    // at bench scale, an OOM at real scale). Small probe frames broadcast;
    // big ones shuffle with the corpus pinned streamed — see
    // vfn.joinCorpusStreamed for why a bare merge hint is wrong. The
    // explode multiplies true probe rows by nprobe without growing the
    // static estimate, hence the inflation.
    val cand = vfn.joinCorpusStreamed(assigned, probed,
      col("cluster_id") === col("__cid"), estimateInflation = nprobe.toLong)
    vfn.topKHits(
      cand.withColumn("distance", vfn.distance(col(corpusVec), col(queryVec), model.space)),
      col("distance"), queryId, corpusId, k)
  }
}
