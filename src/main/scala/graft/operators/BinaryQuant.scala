package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.core.SpaceType

/** BQ binary quantization: 1 bit per dimension (sign vs a per-dimension
  * threshold) — 32× smaller than float32, the most aggressive point of the
  * quantizer family (faiss `IndexBinaryFlat` is the public reference shape;
  * 1-bit sign codes over roughly centered embeddings are the classic
  * "binary quantization" used by large-scale vector stores). An extra tier
  * beyond the reference's index set, alongside SQ8/PQ/OPQ.
  *
  * Spark-first: training is ONE elementwise min/max pass (threshold =
  * min/max midpoint — order-independent, so the model is bit-identical
  * across runs and partitionings, which the oracle replay requires; a mean
  * threshold would depend on float summation order). Encode and the
  * Hamming scan are codegen kernels over a BINARY codes column — the scan
  * is XOR + POPCNT with no float math; a 100 TB float corpus streams ~3 TB
  * of codes. Top-k is the bounded-heap aggregate; the exact re-rank
  * over-fetches `rerankFactor`× like the PQ/SQ paths (1-bit codes are a
  * candidate GENERATOR, not a ranker — always re-rank).
  */
object BinaryQuant {

  case class Model(thresholds: Array[Float]) {
    def dim: Int = thresholds.length
    def codeBytes: Int = (dim + 7) / 8
  }

  /** One elementwise min/max pass (same treeAggregate shape as SQ8 —
    * nothing corpus-sized moves); threshold[i] = midpoint. Min/max are
    * commutative+associative, so the model is deterministic regardless of
    * partition count or task completion order.
    */
  def train(corpus: DataFrame, vecCol: String): Model = {
    val first = corpus.select(size(col(vecCol))).limit(1).collect()
    if (first.isEmpty) return Model(Array.empty)
    val dim = first(0).getInt(0)
    val zero = (Array.fill(dim)(Float.MaxValue), Array.fill(dim)(Float.MinValue))
    val (mins, maxs) = corpus.select(col(vecCol)).rdd
      .map(_.getAs[scala.collection.Seq[Float]](0))
      .treeAggregate(zero)(
        seqOp = { case ((mn, mx), v) =>
          var i = 0
          while (i < dim) {
            val x = v(i)
            if (x < mn(i)) mn(i) = x
            if (x > mx(i)) mx(i) = x
            i += 1
          }
          (mn, mx)
        },
        combOp = { case ((mn1, mx1), (mn2, mx2)) =>
          var i = 0
          while (i < dim) {
            if (mn2(i) < mn1(i)) mn1(i) = mn2(i)
            if (mx2(i) > mx1(i)) mx1(i) = mx2(i)
            i += 1
          }
          (mn1, mx1)
        })
    Model(Array.tabulate(dim)(i => ((mins(i).toDouble + maxs(i).toDouble) / 2.0).toFloat))
  }

  /** Adds `bq_code BINARY` (ceil(dim/8) bytes) via the codegen BqEncode
    * kernel.
    */
  def encode(corpus: DataFrame, vecCol: String, model: Model): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{Bridge, BqEncode}
    val thrLit = Literal.create(model.thresholds.toSeq, ArrayType(FloatType))
    corpus.withColumn("bq_code", Bridge.column(BqEncode(
      Bridge.expression(col(vecCol).cast("array<float>")), thrLit)))
  }

  /** Hamming scan over codes (queries encode with the same model and
    * broadcast; the corpus streams its codes column only), bounded-heap
    * top-k shortlist, exact re-rank in the requested space. Hamming over
    * 1-bit codes is metric-agnostic candidate generation — the re-rank
    * stage carries the actual metric, so unlike SQ's l2-only ADC this tier
    * serves every space (and `rerankVecCol = None` is the code-only
    * shortlist, useful as an aux export but not as an answer).
    */
  def search(
      encoded: DataFrame,
      queries: DataFrame,
      model: Model,
      kTop: Int,
      space: SpaceType = SpaceType.L2,
      corpusId: String = "id",
      queryId: String = "query_id",
      queryVec: String = "query_vec",
      rerankVecCol: Option[String] = None,
      rerankFactor: Int = 8): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{Bridge, BqEncode, BqHamming}
    import graft.functions.vfn
    val thrLit = Literal.create(model.thresholds.toSeq, ArrayType(FloatType))
    // codes only — the float query vectors are NOT carried through the
    // broadcast/cross-join (the re-rank joins back to `queries` itself), so
    // the scan streams 1-bit codes on both sides
    val q = queries.select(col(queryId),
      Bridge.column(BqEncode(
        Bridge.expression(col(queryVec).cast("array<float>")), thrLit)).as("__qcode"))
    val shortlistK = rerankVecCol.fold(kTop)(_ => IvfPq.shortlistDepth(kTop, rerankFactor))
    val shortlist = vfn.topKHits(
      encoded
        .crossJoin(broadcast(q))
        .withColumn("__d", Bridge.column(BqHamming(
          Bridge.expression(col("bq_code")),
          Bridge.expression(col("__qcode")))).cast("double")),
      col("__d"), queryId, corpusId, shortlistK)
    rerankVecCol match {
      case None => shortlist
      case Some(vecCol) =>
        ExactKnn.exactRerank(shortlist, encoded, queries, kTop, space,
          corpusId, vecCol, queryId, queryVec)
    }
  }
}
