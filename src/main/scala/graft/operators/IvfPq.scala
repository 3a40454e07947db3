package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVFPQ: coarse inverted lists + product quantization of residuals +
  * asymmetric-distance (ADC) scoring (reference `internal/index/ivfpq.go` —
  * SURVEY A3/A4/F6; defaults m=8, nbits=8, `const.go:33-36`).
  *
  * Spark-first shape:
  *  - codebook training = m independent distributed KMeans fits over residual
  *    sub-slices (`ivfpq.go:130-176`'s per-subspace Lloyd);
  *  - encode = one pass adding `codes ARRAY<INT>` (m codes per row) — the
  *    corpus stores 8 small ints per vector instead of the full vector;
  *  - search = probe lists driver-side (like IVF), precompute the per-query
  *    m×k distance table against the probed centroid's residual space
  *    (`ivfpq.go:259-277`), broadcast the tables, score candidates with a
  *    table-lookup sum — candidates never touch the original vectors.
  *
  * Parity guards: dimension must divide m (`ivfpq_test.go` non-divisible-dim
  * error); nbits ≤ 8 (the reference supports only 8, `ivfpq.go:104-106` —
  * we allow smaller for small corpora).
  */
object IvfPq {

  /** Over-fetch factor of the exact re-rank — ONE definition shared by the
    * `search`/`searchDistributed` signature defaults and the zero-job local
    * serve, so the two paths can never silently shortlist different depths.
    */
  val DefaultRerankFactor = 8

  /** The re-rank shortlist depth `k`·`factor`, saturated at Int.MaxValue:
    * a product that overflows would turn negative, not deep.
    */
  def shortlistDepth(k: Int, factor: Int): Int =
    math.min(k.toLong * factor, Int.MaxValue.toLong).toInt

  case class Model(
      coarse: IvfIndex.Model,
      codebooks: Array[Array[Array[Float]]], // [m][k][subDim]
      m: Int,
      subDim: Int) {
    def nlist: Int = coarse.nlist
    def k: Int = codebooks(0).length
    def space: graft.core.SpaceType = coarse.space

    /** `QuantKernels.adcTable`'s mode for this space (0 l2, 1 ip, 2 cos) —
      * shared by `search`, `searchDistributed` and the zero-job local serve.
      */
    def adcMode: Int = space match {
      case graft.core.SpaceType.Ip => 1
      case graft.core.SpaceType.Cos => 2
      case _ => 0
    }
  }

  /** Add `outCol` = unit-normalized `vecCol` (zero vectors pass through
    * unchanged — downstream cos distance treats them as 1.0 per F3). The
    * norm is projected ONCE per row and referenced from the transform
    * lambda: embedding the aggregate inside the lambda would re-run the
    * sum-of-squares for every element (O(dim²) per row — Spark does not
    * CSE across higher-order-function lambda invocations), which matters
    * on the whole-corpus encode path.
    */
  private[operators] def withL2Normalized(df: DataFrame, vecCol: String,
      outCol: String): DataFrame = {
    val normCol = s"__${outCol}_norm"
    // accumulate in DOUBLE (x cast before the multiply): bit-identical to
    // `l2NormalizeLocal`'s loop, so the distributed and driver query paths
    // normalize identically and `searchDistributed ≡ search` holds exactly
    df.withColumn(normCol,
        sqrt(aggregate(col(vecCol), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double"))))
      .withColumn(outCol, transform(col(vecCol),
        x => when(col(normCol) === 0.0, x).otherwise((x / col(normCol)).cast("float"))))
      .drop(normCol)
  }

  private[operators] def l2NormalizeLocal(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else v.map(x => (x / n).toFloat)
  }

  /** Train coarse quantizer + per-subspace residual codebooks. Supported
    * spaces: l2 (squared-euclidean ADC over residuals), ip (negative
    * inner product: −⟨q,x⟩ ≈ −⟨q,cent⟩ − ⟨q,codeword⟩), and cos via the
    * normalized formulation: train/encode/search on unit-normalized vectors,
    * where squared-L2 is exactly 2×cosine-distance — the L2 ADC tables rank
    * identically to cosine (`ivfpq.go:248,418` dispatches all spaces through
    * the configured distance; we refuse only hamming, which has no
    * residual-table form). Residual encoding itself is always the L2
    * quantizer — standard PQ practice for all three.
    */
  def train(corpus: DataFrame, vecCol: String, nlist: Int, m: Int = 8,
      nbits: Int = 8, maxIter: Int = 40, seed: Long = 42L,
      space: graft.core.SpaceType = graft.core.SpaceType.L2): Model = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(space == graft.core.SpaceType.L2 || space == graft.core.SpaceType.Ip
        || space == graft.core.SpaceType.Cos,
      s"ivfpq supports l2, ip, and cos spaces, got ${space.name}")
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    require(dim % m == 0, s"dimension $dim not divisible by m=$m") // ivfpq_test parity
    require(nbits >= 1 && nbits <= 8, s"nbits must be in [1,8], got $nbits")
    val subDim = dim / m

    // One bounded sample drives BOTH the coarse quantizer and the codebooks:
    // residual computation + m sub-space Lloyd fits are pure local arithmetic
    // (LocalKMeans parallelizes the O(n·k·d) assignment across cores) —
    // m × maxIter distributed rounds would be pure scheduler overhead.
    val (sampleDf, rows) = IvfIndex.trainingSample(corpus, vecCol, 50000L, seed)
    val rawSample = sampleDf.as[Seq[Float]].collect().map(_.toArray)
    // cos: the whole index lives on the unit sphere
    val sample = if (space == graft.core.SpaceType.Cos)
      rawSample.map(l2NormalizeLocal) else rawSample
    val coarse =
      if (rows * nlist.toLong * dim <= 200000000L)
        IvfIndex.Model(
          LocalKMeans.fit(sample.map(_.map(_.toDouble)), nlist, maxIter).map(_.map(_.toFloat)),
          space)
      else {
        val trainCorpus = if (space == graft.core.SpaceType.Cos)
          withL2Normalized(corpus, vecCol, vecCol) else corpus
        IvfIndex.train(trainCorpus, vecCol, nlist, space, maxIter = maxIter, seed = seed)
      }
    val k = math.min(1 << nbits, sample.length)

    val resid = sample.map { v =>
      val ct = coarse.centroids(graft.kernels.QuantKernels.nearestCentroid(v, coarse.centroids))
      Array.tabulate(v.length)(i => v(i).toDouble - ct(i))
    }
    // the m per-subspace fits are independent — run them in parallel (each
    // deterministic; order preserved by the indexed map)
    import scala.collection.parallel.CollectionConverters._
    val codebooks = (0 until m).par.map { j =>
      val slices = resid.map(r => java.util.Arrays.copyOfRange(r, j * subDim, (j + 1) * subDim))
      LocalKMeans.fit(slices, k, maxIter).map(_.map(_.toFloat))
    }.toArray
    Model(coarse, codebooks, m, subDim)
  }

  /** Encode: cluster assignment + m residual codes per row (SURVEY F6).
    * Both passes are codegen kernels (`NearestCentroid` inside assign,
    * `PqEncodeCodes` here) — the m×k argmin loop stays in whole-stage
    * codegen with the centroid/codebook tables riding in the plan as
    * literals, no UDF serialization on the build hot path.
    */
  def encode(corpus: DataFrame, vecCol: String, model: Model): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{Bridge, PqEncodeCodes}
    // cos: assignment + residual codes live on the unit sphere; the original
    // vector column is untouched (exact re-rank reads it)
    val isCos = model.space == graft.core.SpaceType.Cos
    val src = if (isCos) withL2Normalized(corpus, vecCol, "__nvec") else corpus
    val encCol = if (isCos) "__nvec" else vecCol
    val assigned = IvfIndex.assign(src, encCol, model.coarse)
    val centsLit = Literal.create(
      model.coarse.centroids.map(_.toSeq).toSeq, ArrayType(ArrayType(FloatType)))
    // flatten row-major: codeword c of subspace j at index j*k+c
    val cbLit = Literal.create(
      model.codebooks.flatten.map(_.toSeq).toSeq, ArrayType(ArrayType(FloatType)))
    val coded = assigned.withColumn("codes", Bridge.column(PqEncodeCodes(
      Bridge.expression(col(encCol)), Bridge.expression(col("cluster_id")),
      centsLit, cbLit)))
    if (isCos) coded.drop("__nvec") else coded
  }

  /** ADC search over an encoded corpus: per (query, probed-list) distance
    * tables built driver-side and broadcast; candidate score is a pure
    * table-lookup sum over the m codes (`ivfpq.go:259-285`).
    */
  def search(
      encoded: DataFrame,
      queries: DataFrame,
      model: Model,
      kTop: Int,
      nprobe: Int,
      corpusId: String = "id",
      queryId: String = "query_id",
      queryVec: String = "query_vec",
      rerankVecCol: Option[String] = None,
      rerankFactor: Int = DefaultRerankFactor): DataFrame = {
    val spark = encoded.sparkSession
    val qidType = queries.schema(queryId).dataType
    val qRows = queries.select(col(queryId).cast("string"), col(queryVec)).collect()

    // (qid, cid) -> flat m*k score table. l2: ||r_q − codeword||² per
    // subspace. ip: −⟨q_j, codeword⟩ per subspace, with the per-list
    // constant −⟨q, cent⟩ folded into subspace 0 so cross-list rankings
    // stay comparable (`ivfpq.go:259-277`'s table shape, ip-extended).
    // cos: the l2 table over unit-normalized query/index, halved —
    // ||q̂−x̂||²/2 = 1−⟨q̂,x̂⟩ is EXACTLY the cosine distance, so the ADC
    // score approximates cos distance directly.
    val isCos = model.space == graft.core.SpaceType.Cos
    val tables: Map[(String, Int), Array[Float]] = qRows.flatMap { r =>
      val qid = r.getString(0)
      val qvRaw = r.getAs[scala.collection.Seq[Float]](1).toArray
      val qv = if (isCos) l2NormalizeLocal(qvRaw) else qvRaw
      model.coarse.probe(qv, nprobe).map(cid => (qid, cid) -> graft.kernels.QuantKernels
        .adcTable(qv, model.coarse.centroids(cid), model.codebooks, model.adcMode))
    }.toMap
    // each probe row CARRIES its m×k distance table; after the broadcast
    // join the ADC score is the codegen `AdcLookupSum` kernel — no UDF, no
    // driver-map lookup, whole-stage codegen end to end
    val probePairs = tables.keys.toSeq
    val probeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        probePairs.map(p => Row(p._1, p._2, tables(p).toSeq)), 1),
      StructType(Seq(
        StructField("__qid", StringType),
        StructField("__cid", IntegerType),
        StructField("__tab", ArrayType(FloatType, containsNull = false)))))

    val allProbed = probePairs.map(_._2).distinct
    val w = Window.partitionBy(col("__qid")).orderBy(col("distance").asc, col(corpusId).asc)
    // ADC shortlist (kTop, or rerankFactor×kTop when re-ranking)
    val shortlistK = rerankVecCol.fold(kTop)(_ => shortlistDepth(kTop, rerankFactor))
    val shortlist = encoded
      .filter(col("cluster_id").isin(allProbed: _*)) // partition pruning
      .join(broadcast(probeDf), col("cluster_id") === col("__cid"))
      .withColumn("distance", {
        import org.apache.spark.sql.graft.{AdcLookupSum, Bridge}
        Bridge.column(AdcLookupSum(
          Bridge.expression(col("codes")), Bridge.expression(col("__tab"))))
      })
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= shortlistK)

    rerankVecCol match {
      case None =>
        shortlist.select(col("__qid").cast(qidType).as(queryId), col(corpusId),
          col("distance"), col("rnk"))
      case Some(vecCol) =>
        // Exact re-rank of the tiny ADC shortlist against the true vectors —
        // removes quantization reordering at the cost of k·rerankFactor exact
        // distances per query (`docs/design.md:58`'s over-fetch heuristic,
        // applied to quantization error instead of filtering).
        import graft.functions.vfn
        val q2 = queries.select(col(queryId).cast("string").as("__qid"),
          col(queryVec).as("__qv"))
        val wr = Window.partitionBy(col("__qid"))
          .orderBy(col("__exact").asc, col(corpusId).asc)
        shortlist
          .join(broadcast(q2), "__qid")
          .withColumn("__exact", vfn.distance(col(vecCol), col("__qv"), model.space))
          .withColumn("rnk", row_number().over(wr).cast("long"))
          .filter(col("rnk") <= kTop)
          .select(col("__qid").cast(qidType).as(queryId), col(corpusId),
            col("__exact").as("distance"), col("rnk"))
    }
  }

  /** ADC search with NO driver-side query collection — the scale path for
    * huge query sets (a KNN join of 10⁸ queries routed to an ivfpq
    * collection must never materialize per-query tables on the driver, which
    * is where `search` stops scaling). Per-row, inside whole-stage codegen:
    * probe lists via `NearestCentroids`, then the m×k ADC table via
    * `PqAdcTable` (centroids + codebooks ride in the plan as literals — one
    * copy per task, not per row). Each (query, probed-list) row CARRIES its
    * table through an equi-join on cluster_id (the corpus side stays
    * partition-local; only the tiny probe frame shuffles), candidates score
    * with the codegen `AdcLookupSum`, and top-k is the partial-aggregating
    * bounded heap. Results are identical to `search` — same probe metric,
    * same table arithmetic (bit-for-bit, see `PqAdcTable`), same
    * (distance, id) tie-breaks — asserted by `IvfPqDistributedSpec`.
    */
  def searchDistributed(
      encoded: DataFrame,
      queries: DataFrame,
      model: Model,
      kTop: Int,
      nprobe: Int,
      corpusId: String = "id",
      queryId: String = "query_id",
      queryVec: String = "query_vec",
      rerankVecCol: Option[String] = None,
      rerankFactor: Int = DefaultRerankFactor): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{AdcLookupSum, Bridge, NearestCentroids, PqAdcTable}
    import graft.functions.vfn
    require(nprobe >= 1 && nprobe <= model.nlist,
      s"nprobe must be in [1, ${model.nlist}], got $nprobe")
    val isIp = model.space == graft.core.SpaceType.Ip
    val isCos = model.space == graft.core.SpaceType.Cos
    val centsLit = Literal.create(
      model.coarse.centroids.map(_.toSeq).toSeq, ArrayType(ArrayType(FloatType)))
    val cbLit = Literal.create(
      model.codebooks.flatten.map(_.toSeq).toSeq, ArrayType(ArrayType(FloatType)))
    val qBase = queries.select(col(queryId), col(queryVec).cast("array<float>").as("__qv"))
    val qn = if (isCos) withL2Normalized(qBase, "__qv", "__qv") else qBase
    val probed = qn
      .withColumn("__cid", explode(Bridge.column(NearestCentroids(
        Bridge.expression(col("__qv")), centsLit, Literal(nprobe), ip = isIp))))
      .withColumn("__tab", Bridge.column(PqAdcTable(
        Bridge.expression(col("__qv")), Bridge.expression(col("__cid")),
        centsLit, cbLit, model.adcMode)))
      .select(col(queryId), col("__cid"), col("__tab"))
    val shortlistK = rerankVecCol.fold(kTop)(_ => shortlistDepth(kTop, rerankFactor))
    // equi-join on the cluster id (corpus stays partitioned by cluster_id,
    // probe rows shuffle to their target lists), ADC-score, bounded-heap
    // topK. The CORPUS is never the broadcast build side (a compacted
    // layout's small size estimate flipped the plain join to broadcasting
    // the corpus — see IvfIndex.searchDistributed); small probe frames
    // broadcast, big ones shuffle with the corpus pinned streamed
    // (vfn.joinCorpusStreamed). True probe bytes outgrow the static
    // estimate by nprobe (explode) × the per-row ADC table the estimate
    // undercounts: tab = m·k floats vs the ~4·m·subDim-byte query vector,
    // a k/subDim blowup — hence the inflation.
    val shortlist = vfn.topKHits(
      vfn.joinCorpusStreamed(encoded, probed, col("cluster_id") === col("__cid"),
          estimateInflation = nprobe.toLong * (1L + model.k / math.max(1, model.subDim)))
        .withColumn("__adc", Bridge.column(AdcLookupSum(
          Bridge.expression(col("codes")), Bridge.expression(col("__tab"))))),
      col("__adc"), queryId, corpusId, shortlistK)
    rerankVecCol match {
      case None => shortlist
      case Some(vecCol) =>
        ExactKnn.exactRerank(shortlist, encoded, queries, kTop, model.space,
          corpusId, vecCol, queryId, queryVec)
    }
  }
}
