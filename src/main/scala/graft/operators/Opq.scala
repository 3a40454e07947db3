package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** OPQ: Optimized Product Quantization — a learned orthonormal rotation R
  * applied before standard IVFPQ, so the PQ subspaces align with the data's
  * principal structure instead of arbitrary coordinate blocks (Ge et al.,
  * CVPR 2013, the non-parametric alternation; faiss's OPQMatrix pretransform
  * is the same shape). Beyond the reference's fixed-subspace PQ
  * (`internal/index/ivfpq.go:104-106` caps at m=8,nbits=8 with no
  * transform): better recall at the SAME code budget whenever dimensions are
  * correlated.
  *
  * Spark-first shape: R is learned driver-side on the bounded training
  * sample (d×d SVDs are trivial; the alternation is the same LocalKMeans the
  * PQ trainer uses), then applied corpus-wide as ONE codegen `MatVecMul`
  * pass with R riding in the plan as a literal — after which everything is
  * the stock IvfPq machinery (encode kernels, ADC search, distributed path).
  * Orthonormal R preserves l2/ip/cos exactly, so distances in rotated space
  * ARE original-space distances.
  */
object Opq {

  case class Model(
      rotation: Array[Array[Float]], // d×d row-major; rotated = R·x
      pq: IvfPq.Model,
      trainErrors: Array[Double]) { // per-iteration OPQ objective (decreasing)
    def dim: Int = rotation.length
  }

  /** The OPQ-NP alternation on a local sample: (1) PQ-encode the rotated
    * sample, (2) reconstruct, (3) re-solve R by orthogonal Procrustes
    * (SVD of the d×d cross-covariance). Returns (R, per-iter objective).
    */
  private[operators] def learnRotation(xs: Array[Array[Float]], m: Int, k: Int,
      iters: Int, kmeansIters: Int = 10): (Array[Array[Float]], Array[Double]) = {
    import breeze.linalg.{svd, DenseMatrix}
    import scala.collection.parallel.CollectionConverters._
    val n = xs.length
    val d = xs(0).length
    require(d % m == 0, s"dimension $d not divisible by m=$m")
    val subDim = d / m
    var rot = DenseMatrix.eye[Double](d)
    val X = DenseMatrix.tabulate(n, d)((i, j) => xs(i)(j).toDouble)
    val errs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // codebooks persist across iterations (warm-started Lloyd): each step —
    // re-assign, Lloyd update, Procrustes — individually cannot increase the
    // objective, so the reported errs sequence is monotone non-increasing
    var books: IndexedSeq[Array[Array[Double]]] = null
    for (_ <- 0 until iters) {
      val Y = X * rot.t // y_i = R·x_i as row i
      // per-subspace codebooks on the rotated sample — the m fits are
      // independent, so they run in parallel (each is deterministic; the
      // shared ForkJoinPool absorbs the nested assignment parallelism)
      val yRows = Array.tabulate(n)(i => Array.tabulate(d)(j => Y(i, j)))
      val prevBooks = books
      books = (0 until m).par.map { j =>
        val slices = yRows.map(r => java.util.Arrays.copyOfRange(r, j * subDim, (j + 1) * subDim))
        LocalKMeans.fit(slices, k, kmeansIters,
          warmStart = Option(prevBooks).map(_(j)))
      }.toIndexedSeq
      // reconstruct each row from its nearest codewords — raw arrays and a
      // parallel row loop (per-element DenseMatrix access in the hot loop
      // would dominate the whole alternation)
      val yhat = Array.ofDim[Double](n, d)
      val errAcc = new java.util.concurrent.atomic.DoubleAdder()
      import scala.collection.parallel.CollectionConverters._
      (0 until n).par.foreach { i =>
        val yr = yRows(i); val out = yhat(i)
        var j = 0
        while (j < m) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < books(j).length) {
            var s = 0.0; var t = 0
            while (t < subDim) {
              val dv = yr(j * subDim + t) - books(j)(c)(t); s += dv * dv; t += 1
            }
            if (s < bestD) { bestD = s; best = c }
            c += 1
          }
          var t = 0
          while (t < subDim) { out(j * subDim + t) = books(j)(best)(t); t += 1 }
          errAcc.add(bestD)
          j += 1
        }
      }
      errs += errAcc.sum / n
      // Procrustes: max tr(R·B) with B = Σ xᵢŷᵢᵀ = Xᵀ·Ŷ → R = V·Uᵀ
      val B = X.t * DenseMatrix.tabulate(n, d)((i, j) => yhat(i)(j))
      val svd.SVD(u, _, vt) = svd(B)
      rot = vt.t * u.t
    }
    (Array.tabulate(d, d)((r, c) => rot(r, c).toFloat), errs.toArray)
  }

  private def matVec(rot: Array[Array[Double]], x: Array[Double]): Array[Double] = {
    val d = rot.length
    val y = new Array[Double](d)
    var i = 0
    while (i < d) {
      val r = rot(i); var s = 0.0; var j = 0
      while (j < d) { s += r(j) * x(j); j += 1 }
      y(i) = s; i += 1
    }
    y
  }

  /** Distributed rotation learning — for corpora whose TRAINING SET outgrows
    * the driver sample. Per-subspace codebooks still fit on the bounded
    * sample (the rotation has only d² free parameters, and the full-k
    * codebooks are refit on the rotated corpus downstream anyway), but every
    * Procrustes step aggregates the d×d cross-covariance B = Σ x·ŷᵀ and the
    * quantization objective over the ENTIRE residual frame with
    * treeAggregate — the rotation sees every row; the driver only ever holds
    * d×d matrices (32 KB at d=64) and the d-dim codebooks.
    */
  private[operators] def learnRotationDistributed(residDf: DataFrame,
      vecCol: String, sample: Array[Array[Float]], m: Int, k: Int, iters: Int,
      kmeansIters: Int = 10): (Array[Array[Float]], Array[Double]) = {
    import breeze.linalg.{svd, DenseMatrix}
    import scala.collection.parallel.CollectionConverters._
    val d = sample(0).length
    require(d % m == 0, s"dimension $d not divisible by m=$m")
    val subDim = d / m
    var rot: Array[Array[Double]] =
      Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var books: IndexedSeq[Array[Array[Double]]] = null
    val errs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // each iteration runs one treeAggregate job over this RDD — persist it
    // so the residual lineage (scan + normalize + assignment + subtraction)
    // is paid once, not once per Procrustes step; DISK spill keeps huge
    // corpora viable
    val rdd = residDf.select(col(vecCol).cast("array<float>")).rdd
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray.map(_.toDouble))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try for (_ <- 0 until iters) {
      // driver side: warm-started codebooks on the ROTATED sample (same
      // monotone alternation as the local path)
      val ySample = sample.map(x => matVec(rot, x.map(_.toDouble)))
      val prevBooks = books
      books = (0 until m).par.map { j =>
        val slices = ySample.map(r =>
          java.util.Arrays.copyOfRange(r, j * subDim, (j + 1) * subDim))
        LocalKMeans.fit(slices, k, kmeansIters, warmStart = Option(prevBooks).map(_(j)))
      }.toIndexedSeq
      val bks = books.toArray
      val rotNow = rot
      // cluster side: one pass accumulating B (column-major d×d), the
      // objective, and the row count — constant-size state up the tree
      val (bArr, errSum, cnt) = rdd.treeAggregate(
          (new Array[Double](d * d), 0.0, 0L))(
        seqOp = { case ((acc, e, c), x) =>
          val y = matVec(rotNow, x)
          val yhat = new Array[Double](d)
          var err = 0.0
          var j = 0
          while (j < m) {
            val bk = bks(j)
            var best = 0; var bestD = Double.MaxValue; var cw = 0
            while (cw < bk.length) {
              var s = 0.0; var t = 0
              while (t < subDim) {
                val dv = y(j * subDim + t) - bk(cw)(t); s += dv * dv; t += 1
              }
              if (s < bestD) { bestD = s; best = cw }
              cw += 1
            }
            var t = 0
            while (t < subDim) { yhat(j * subDim + t) = bk(best)(t); t += 1 }
            err += bestD
            j += 1
          }
          // acc(i + j·d) += x(i)·ŷ(j)  — B(i,j) = Σ x(i)·ŷ(j), column-major
          var jj = 0
          while (jj < d) {
            val yj = yhat(jj); val off = jj * d
            var ii = 0
            while (ii < d) { acc(off + ii) += x(ii) * yj; ii += 1 }
            jj += 1
          }
          (acc, e + err, c + 1)
        },
        combOp = { case ((a1, e1, c1), (a2, e2, c2)) =>
          var i = 0
          while (i < a1.length) { a1(i) += a2(i); i += 1 }
          (a1, e1 + e2, c1 + c2)
        })
      require(cnt > 0, "empty residual frame")
      errs += errSum / cnt
      val B = new DenseMatrix(d, d, bArr)
      val svd.SVD(u, _, vt) = svd(B)
      val nr = vt.t * u.t
      rot = Array.tabulate(d, d)((r, c) => nr(r, c))
    } finally rdd.unpersist(blocking = false)
    (rot.map(_.map(_.toFloat)), errs.toArray)
  }

  /** Train: learn R on a bounded sample (or, with
    * `rotationFullCovariance = true`, with every Procrustes step aggregated
    * over the full corpus's residuals — see `learnRotationDistributed`),
    * then stock IVFPQ over the rotated corpus. Same knobs and spaces as
    * `IvfPq.train`.
    */
  def train(corpus: DataFrame, vecCol: String, nlist: Int, m: Int = 8,
      nbits: Int = 8, maxIter: Int = 40, seed: Long = 42L,
      space: graft.core.SpaceType = graft.core.SpaceType.L2,
      opqIters: Int = 10, rotationSampleCap: Long = 8000L,
      rotationFullCovariance: Boolean = false): Model = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(space != graft.core.SpaceType.Hamming,
      "opq supports l2, ip, and cos spaces (rotation has no hamming form)")
    // the rotation saturates on a few thousand rows (it has only d² free
    // parameters) — a smaller cap than the codebook trainer's keeps the
    // alternation's O(n·k·d) per-iteration cost off the build critical path
    val (sampleDf, _) = IvfIndex.trainingSample(corpus, vecCol, rotationSampleCap, seed)
    val collected = sampleDf.as[Seq[Float]].collect().map(_.toArray)
    // cos: learn the rotation where the index lives — on the unit sphere
    val raw = if (space == graft.core.SpaceType.Cos)
      collected.map(IvfPq.l2NormalizeLocal) else collected
    val k = math.min(1 << nbits, raw.length)
    // What PQ actually quantizes is the RESIDUAL after coarse assignment, so
    // that is the distribution the rotation must serve — fit a quick local
    // coarse quantizer on the sample and learn R on its residuals. Coarse
    // k-means is rotation-EQUIVARIANT (distances are preserved, so the same
    // seeded trainer on rotated data yields rotated centroids and identical
    // assignments), which is why "rotate the whole space, then stock IVFPQ"
    // downstream produces exactly R·residual at the PQ stage.
    val nlistLocal = math.max(1, math.min(nlist, raw.length))
    val cents = LocalKMeans.fit(raw.map(_.map(_.toDouble)), nlistLocal, 15)
    val resid = raw.map { v =>
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cents.length) {
        var s = 0.0; var i = 0
        while (i < v.length) { val d = v(i) - cents(c)(i); s += d * d; i += 1 }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      Array.tabulate(v.length)(i => (v(i) - cents(best)(i)).toFloat)
    }
    // learn against a CAPPED codebook (≤64 codewords): the rotation is
    // robust to codebook resolution (it has only d² parameters), and the
    // full-k codebooks are refit on the rotated corpus by IvfPq.train below
    // — this keeps the alternation's O(n·m·k·subDim) reconstruct off the
    // build critical path
    val (rot, errs) =
      if (!rotationFullCovariance) learnRotation(resid, m, math.min(k, 64), opqIters)
      else {
        // full-corpus residual frame, built distributively with the SAME
        // local coarse quantizer the sample path uses: normalize (cos),
        // nearest-centroid via the codegen kernel, residual via zip_with
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.sql.graft.{Bridge, NearestCentroid}
        val src = if (space == graft.core.SpaceType.Cos)
          IvfPq.withL2Normalized(corpus, vecCol, "__nv").withColumn("__v", col("__nv"))
        else corpus.withColumn("__v", col(vecCol).cast("array<float>"))
        val centsLit = Literal.create(
          cents.map(_.map(_.toFloat).toSeq).toSeq,
          ArrayType(ArrayType(FloatType)))
        val centsCol = Bridge.column(centsLit)
        val residDf = src
          .withColumn("__cid",
            Bridge.column(NearestCentroid(Bridge.expression(col("__v")), centsLit)))
          .withColumn("__resid",
            zip_with(col("__v"), element_at(centsCol, col("__cid") + 1),
              (a, b) => a - b))
        learnRotationDistributed(residDf, "__resid", resid, m, math.min(k, 64),
          opqIters)
      }
    val pq = IvfPq.train(rotate(corpus, vecCol, rot, "__rvec"), "__rvec",
      nlist, m, nbits, maxIter, seed, space)
    Model(rot, pq, errs)
  }

  /** Add `outCol` = R·vecCol via the codegen MatVecMul kernel. */
  def rotate(df: DataFrame, vecCol: String, rot: Array[Array[Float]],
      outCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{Bridge, MatVecMul}
    val rLit = Literal.create(rot.map(_.toSeq).toSeq, ArrayType(ArrayType(FloatType)))
    df.withColumn(outCol, Bridge.column(MatVecMul(
      Bridge.expression(col(vecCol).cast("array<float>")), rLit)))
  }

  /** Encode = rotate + stock IVFPQ encode; the rotated column stays on the
    * frame for exact re-rank (rotated distances ≡ original distances).
    */
  def encode(corpus: DataFrame, vecCol: String, model: Model): DataFrame =
    IvfPq.encode(rotate(corpus, vecCol, model.rotation, "__rvec"), "__rvec", model.pq)

  /** ADC search over an OPQ-encoded corpus: rotate the queries, stock ADC
    * shortlisting in rotated space, exact re-rank in ORIGINAL space (the
    * rotation preserves distances mathematically, but re-ranking against the
    * original vectors keeps the emitted distances bit-comparable with the
    * exact-KNN oracle — no rotated-float rounding in the ranking).
    */
  def search(encoded: DataFrame, queries: DataFrame, model: Model, kTop: Int,
      nprobe: Int, corpusId: String = "id", corpusVec: String = "vector",
      queryId: String = "query_id", queryVec: String = "query_vec",
      rerank: Boolean = true, rerankFactor: Int = IvfPq.DefaultRerankFactor): DataFrame = {
    val rq = rotate(queries, queryVec, model.rotation, "__rq")
    val shortlistK = if (rerank) IvfPq.shortlistDepth(kTop, rerankFactor) else kTop
    val shortlist = IvfPq.search(encoded, rq, model.pq, shortlistK, nprobe,
      corpusId, queryId, "__rq", None)
    if (!rerank) shortlist
    else ExactKnn.exactRerank(shortlist, encoded, queries, kTop, model.pq.space,
      corpusId, corpusVec, queryId, queryVec)
  }

  /** Collect-free variant — same distributed shape as `IvfPq.searchDistributed`
    * with the rotation applied per-row inside codegen.
    */
  def searchDistributed(encoded: DataFrame, queries: DataFrame, model: Model,
      kTop: Int, nprobe: Int, corpusId: String = "id",
      corpusVec: String = "vector", queryId: String = "query_id",
      queryVec: String = "query_vec", rerank: Boolean = true,
      rerankFactor: Int = IvfPq.DefaultRerankFactor): DataFrame = {
    val rq = rotate(queries, queryVec, model.rotation, "__rq")
    val shortlistK = if (rerank) IvfPq.shortlistDepth(kTop, rerankFactor) else kTop
    val shortlist = IvfPq.searchDistributed(encoded, rq, model.pq, shortlistK,
      nprobe, corpusId, queryId, "__rq", None)
    if (!rerank) shortlist
    else ExactKnn.exactRerank(shortlist, encoded, queries, kTop, model.pq.space,
      corpusId, corpusVec, queryId, queryVec)
  }
}
