package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.kernels.QuantKernels
import QuantExpression.{GenericArray, Kernels}

/** Codegen kernels for the IVF/PQ scan paths (SURVEY A4/J3) — native
  * expressions instead of UDFs, so the per-row work stays inside
  * whole-stage codegen with no serialization boundary.
  */

/** `adc_lookup_sum(codes ARRAY<INT>, table ARRAY<FLOAT>)` → DOUBLE:
  * Σ_j table[j·k + codes[j]] where k = |table| / |codes| — the ADC
  * distance-table scoring of `ivfpq.go:259-285`, with the per-(query,list)
  * table carried as a row value from the broadcast probe join.
  */
case class AdcLookupSum(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_lookup_sum"

  override protected def nullSafeEval(c: Any, t: Any): Any = {
    val codes = c.asInstanceOf[ArrayData]; val table = t.asInstanceOf[ArrayData]
    val m = codes.numElements()
    val k = table.numElements() / m
    var s = 0.0; var j = 0
    while (j < m) { s += table.getFloat(j * k + codes.getInt(j)); j += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) => {
      val m = ctx.freshName("m"); val k = ctx.freshName("k")
      val j = ctx.freshName("j"); val s = ctx.freshName("s")
      s"""int $m = $c.numElements();
         |int $k = $t.numElements() / $m;
         |double $s = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  $s += $t.getFloat($j * $k + $c.getInt($j));
         |}
         |${ev.value} = $s;""".stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `pq_adc_table(query ARRAY<FLOAT>, cluster_id INT,
  *               centroids ARRAY<ARRAY<FLOAT>>, codebooks ARRAY<ARRAY<FLOAT>>)`
  * → ARRAY<FLOAT>: the m×k ADC distance table for one (query, probed-list)
  * pair, computed EXECUTOR-side — the kernel that makes the PQ query path
  * collect-free. It is `QuantKernels.adcTable`, the same method the driver
  * `IvfPq.search` and the zero-job local PQ serve call. `codebooks` is the
  * [m][k][subDim] table flattened row-major like `PqEncodeCodes`.
  *
  * `mode`: 0 = l2, 1 = ip, 2 = cos (see `QuantKernels.adcTable`; the caller
  * normalizes the query column for cos).
  */
case class PqAdcTable(first: Expression, second: Expression,
    third: Expression, fourth: Expression, mode: Int)
    extends QuaternaryExpression with QuantExpression {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), IntegerType,
      ArrayType(ArrayType(FloatType)), ArrayType(ArrayType(FloatType)))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "pq_adc_table"
  override protected def modelArgs: Seq[(String, Expression)] =
    Seq("centroids" -> third, "codebooks" -> fourth)

  @transient private lazy val cents = rows(third)
  @transient private lazy val books = QuantExpression.codebooks(cents, rows(fourth))

  override protected def nullSafeEval(v: Any, cid: Any, cs: Any, cbs: Any): Any =
    new GenericArrayData(QuantKernels.adcTable(
      v.asInstanceOf[ArrayData].toFloatArray(), cents(cid.asInstanceOf[Int]), books, mode))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("cents", cents, "float[][]")
    val bs = ctx.addReferenceObj("books", books, "float[][][]")
    nullSafeCodeGen(ctx, ev, (v, cid, _, _) =>
      s"${ev.value} = new $GenericArray($Kernels.adcTable($v.toFloatArray(), $cs[$cid], $bs, $mode));")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

/** `nearest_centroid(vector ARRAY<FLOAT>, centroids ARRAY<ARRAY<FLOAT>>)` →
  * INT: argmin of squared-L2 distance (ties → lowest index) — the
  * centroid-assignment join J3 as a broadcast-free codegen kernel; the
  * centroid table rides in as a literal. `QuantKernels.nearestCentroid`.
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression with QuantExpression {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(ArrayType(FloatType)))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"
  override protected def modelArgs: Seq[(String, Expression)] = Seq("centroids" -> right)

  @transient private lazy val cents = rows(right)

  override protected def nullSafeEval(v: Any, cs: Any): Any =
    QuantKernels.nearestCentroid(v.asInstanceOf[ArrayData].toFloatArray(), cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("cents", cents, "float[][]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = $Kernels.nearestCentroid($v.toFloatArray(), $cs);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
