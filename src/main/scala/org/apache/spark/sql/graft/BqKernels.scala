package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.kernels.QuantKernels
import QuantExpression.Kernels

/** Codegen kernels for the binary-quantization (BQ) tier: 1 BIT per
  * dimension — 32× smaller than float32 (the most aggressive recall-per-byte
  * point of the quantizer family; faiss `IndexBinaryFlat` is the public
  * reference shape). A 100 TB float corpus scans ~3 TB of sign codes, and
  * the scan kernel is XOR + POPCNT — no float math at all until the exact
  * re-rank stage.
  */

/** `bq_encode(vector ARRAY<FLOAT>, thresholds ARRAY<FLOAT>)` → BINARY of
  * ceil(dim/8) bytes: bit i (byte i/8, mask 1<<(i%8)) is set iff
  * v[i] > thr[i] (`QuantKernels.bqEncode`). Dimension mismatch is a loud
  * error (P3 validation, same contract as the SQ/PQ encoders).
  */
case class BqEncode(left: Expression, right: Expression)
    extends BinaryExpression with QuantExpression {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bq_encode"
  override protected def modelArgs: Seq[(String, Expression)] = Seq("thresholds" -> right)

  @transient private lazy val thresholds = floats(right)

  override protected def nullSafeEval(v: Any, th: Any): Any =
    QuantKernels.bqEncode(v.asInstanceOf[ArrayData].toFloatArray(), thresholds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val th = ctx.addReferenceObj("thresholds", thresholds, "float[]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = $Kernels.bqEncode($v.toFloatArray(), $th);")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** `bq_hamming(a BINARY, b BINARY)` → INT: popcount of the byte-wise XOR —
  * the symmetric Hamming distance between two packed sign codes (both sides
  * encode; there is no useful asymmetric form for 1-bit codes). Length
  * mismatch is a loud error. `QuantKernels.bqHamming`.
  */
case class BqHamming(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bq_hamming"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    QuantKernels.bqHamming(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $Kernels.bqHamming($a, $b);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}
