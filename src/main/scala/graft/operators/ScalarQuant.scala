package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** SQ8 scalar quantization: per-dimension affine uint8 codes — 4× smaller
  * than float32 at near-exact recall (a milder compression/recall point than
  * PQ's 32×; faiss's ScalarQuantizer QT_8bit is the reference shape). An
  * extra tier beyond the reference's index set.
  *
  * Spark-first: training is ONE elementwise min/max pass (treeAggregate —
  * the d-float result never shuffles corpus rows); encode and the
  * asymmetric-distance scan are codegen kernels over a BINARY codes column
  * (a 100 TB float corpus scans 25 TB of codes); top-k is the bounded-heap
  * aggregate; optional exact re-rank over-fetches like the PQ path.
  */
object ScalarQuant {

  case class Model(mins: Array[Float], maxs: Array[Float]) {
    def dim: Int = mins.length
    /** quantize factor 255/(max−min); 0 for constant dims (code 0). */
    def scales: Array[Float] = Array.tabulate(dim) { i =>
      val r = maxs(i) - mins(i)
      if (r == 0f) 0f else (255.0 / r).toFloat
    }
    /** dequantize factor (max−min)/255. */
    def invScales: Array[Float] = Array.tabulate(dim)(i => ((maxs(i) - mins(i)) / 255.0).toFloat)
  }

  /** One pass, elementwise min/max. treeAggregate: per-partition loops fold
    * into a d-float pair — nothing corpus-sized moves.
    */
  def train(corpus: DataFrame, vecCol: String): Model = {
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
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
    Model(mins, maxs)
  }

  /** Adds `sq_code BINARY` (1 byte/dim) via the codegen SqEncode kernel. */
  def encode(corpus: DataFrame, vecCol: String, model: Model): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{Bridge, SqEncode}
    val minsLit = Literal.create(model.mins.toSeq, ArrayType(FloatType))
    val scalesLit = Literal.create(model.scales.toSeq, ArrayType(FloatType))
    corpus.withColumn("sq_code", Bridge.column(SqEncode(
      Bridge.expression(col(vecCol).cast("array<float>")), minsLit, scalesLit)))
  }

  /** Asymmetric-distance scan over codes (queries broadcast, corpus streams
    * its codes column only), bounded-heap top-k, optional exact re-rank.
    * l2 only — SQ's affine dequantization has no useful ip/cos shortcut, and
    * the no-silent-fallback rule forbids pretending otherwise.
    */
  def search(
      encoded: DataFrame,
      queries: DataFrame,
      model: Model,
      kTop: Int,
      corpusId: String = "id",
      queryId: String = "query_id",
      queryVec: String = "query_vec",
      rerankVecCol: Option[String] = None,
      rerankFactor: Int = 4): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{Bridge, SqAdcL2}
    import graft.functions.vfn
    val minsLit = Literal.create(model.mins.toSeq, ArrayType(FloatType))
    val invsLit = Literal.create(model.invScales.toSeq, ArrayType(FloatType))
    val q = queries.select(col(queryId), col(queryVec).cast("array<float>").as("__qv"))
    val shortlistK = rerankVecCol.fold(kTop)(_ => IvfPq.shortlistDepth(kTop, rerankFactor))
    val shortlist = vfn.topKHits(
      encoded
        .crossJoin(broadcast(q))
        .withColumn("__d", Bridge.column(SqAdcL2(
          Bridge.expression(col("__qv")), Bridge.expression(col("sq_code")),
          minsLit, invsLit))),
      col("__d"), queryId, corpusId, shortlistK)
    rerankVecCol match {
      case None => shortlist
      case Some(vecCol) =>
        ExactKnn.exactRerank(shortlist, encoded, queries, kTop,
          graft.core.SpaceType.L2, corpusId, vecCol, queryId, queryVec)
    }
  }
}
