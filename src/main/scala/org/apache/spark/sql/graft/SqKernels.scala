package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.kernels.QuantKernels
import QuantExpression.Kernels

/** Codegen kernels for the scalar-quantization (SQ8) tier: 1 byte per
  * dimension (4× smaller than float32) with per-dimension affine
  * dequantization — the simplest recall-per-byte point between full vectors
  * and PQ codes. Codes live in BINARY columns: a 100 TB float corpus scans
  * 25 TB of codes.
  */

/** `sq_encode(vector ARRAY<FLOAT>, mins ARRAY<FLOAT>, scales ARRAY<FLOAT>)`
  * → BINARY: byte i = clamp(round((v[i] − mins[i]) · scales[i]), 0, 255),
  * scales[i] = 255/(max−min) (0 for constant dimensions → code 0).
  * `QuantKernels.sqEncode`.
  */
case class SqEncode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with QuantExpression {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "sq_encode"
  override protected def modelArgs: Seq[(String, Expression)] =
    Seq("mins" -> second, "scales" -> third)

  @transient private lazy val mins = floats(second)
  @transient private lazy val scales = floats(third)

  override protected def nullSafeEval(v: Any, mn: Any, sc: Any): Any =
    QuantKernels.sqEncode(v.asInstanceOf[ArrayData].toFloatArray(), mins, scales)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("mins", mins, "float[]")
    val sc = ctx.addReferenceObj("scales", scales, "float[]")
    nullSafeCodeGen(ctx, ev, (v, _, _) =>
      s"${ev.value} = $Kernels.sqEncode($v.toFloatArray(), $mn, $sc);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** `sq_adc_l2(query ARRAY<FLOAT>, code BINARY, mins ARRAY<FLOAT>,
  *            invScales ARRAY<FLOAT>)` → DOUBLE: asymmetric squared-L2
  * between a full-precision query and a dequantized code —
  * Σ (q[i] − (mins[i] + (code[i] & 0xFF) · invScales[i]))², with
  * invScales[i] = (max−min)/255. The query side never quantizes (same
  * asymmetric-distance argument as PQ's ADC). `QuantKernels.sqAdcL2`.
  */
case class SqAdcL2(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with QuantExpression {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), BinaryType, ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_adc_l2"
  override protected def modelArgs: Seq[(String, Expression)] =
    Seq("mins" -> third, "invScales" -> fourth)

  @transient private lazy val mins = floats(third)
  @transient private lazy val invScales = floats(fourth)

  override protected def nullSafeEval(q: Any, cd: Any, mn: Any, iv: Any): Any =
    QuantKernels.sqAdcL2(q.asInstanceOf[ArrayData].toFloatArray(),
      cd.asInstanceOf[Array[Byte]], mins, invScales)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("mins", mins, "float[]")
    val iv = ctx.addReferenceObj("invScales", invScales, "float[]")
    nullSafeCodeGen(ctx, ev, (q, cd, _, _) =>
      s"${ev.value} = $Kernels.sqAdcL2($q.toFloatArray(), $cd, $mn, $iv);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}
