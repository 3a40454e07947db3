package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.DataTypeMismatch
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Mixin of the quantizer expressions (`nearest_centroid(s)`, `pq_encode`,
  * `pq_adc_table`, `mat_vec_mul`, `sq_*`, `bq_encode`, `lsh_signatures`).
  * Their arithmetic lives in `graft.kernels.QuantKernels`; both `doGenCode`
  * and `nullSafeEval` make one call to it.
  *
  * The model arguments (centroids, codebooks, planes, mins, scales,
  * thresholds) stay literal children — plan shape, canonical equality and
  * cache lookup see them as before — but analysis rejects a non-foldable
  * one, and each expression instance converts them to primitive arrays
  * ONCE (a transient lazy val, handed to generated code through
  * `addReferenceObj`). Per row only the vector is extracted, with one bulk
  * `toFloatArray()`.
  */
trait QuantExpression extends ImplicitCastInputTypes {

  /** (name, child) of every model argument. */
  protected def modelArgs: Seq[(String, Expression)]

  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case ok if ok.isSuccess =>
        modelArgs.collectFirst { case (name, e) if !e.foldable =>
          DataTypeMismatch("NON_FOLDABLE_INPUT", Map(
            "inputName" -> Cast.toSQLId(name),
            "inputType" -> Cast.toSQLType(e.dataType),
            "inputExpr" -> Cast.toSQLExpr(e)))
        }.getOrElse(ok)
      case failed => failed
    }

  /** An `ARRAY<FLOAT>` model argument as float[] (null stays null). */
  protected final def floats(e: Expression): Array[Float] =
    Option(e.eval().asInstanceOf[ArrayData]).map(_.toFloatArray()).orNull

  /** An `ARRAY<ARRAY<FLOAT>>` model argument as float[][] (null stays null). */
  protected final def rows(e: Expression): Array[Array[Float]] =
    Option(e.eval().asInstanceOf[ArrayData])
      .map(a => Array.tabulate(a.numElements())(a.getArray(_).toFloatArray()))
      .orNull
}

object QuantExpression {
  /** Generated code's name of the kernel object. */
  val Kernels = "graft.kernels.QuantKernels"
  val GenericArray = "org.apache.spark.sql.catalyst.util.GenericArrayData"

  /** [m][k][subDim] view of a codebook flattened row-major to [m·k][subDim]
    * (codeword c of subspace j at j·k+c); m = centroid width / subDim.
    */
  def codebooks(cents: Array[Array[Float]], flat: Array[Array[Float]])
      : Array[Array[Array[Float]]] =
    if (cents == null || flat == null) null
    else flat.grouped(flat.length / (cents(0).length / flat(0).length)).toArray
}
