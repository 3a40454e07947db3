package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.kernels.QuantKernels
import QuantExpression.{GenericArray, Kernels}

/** Codegen kernels for the LSH-signature and PQ-encode build paths — the two
  * per-row hot loops of index build (SURVEY F6, §7.2 step 7) that previously
  * ran as Scala UDFs. As native expressions calling the static
  * `QuantKernels`, the m×k / tables×nbits×dim arithmetic stays inside
  * whole-stage codegen with no serialization boundary — at 100 TB build
  * scale the UDF encode/serialize tax is the dominant cost, not the
  * arithmetic.
  */

/** `lsh_signatures(vector ARRAY<FLOAT>, planes ARRAY<ARRAY<FLOAT>>, nbits INT)`
  * → ARRAY<LONG>: one sign-bit signature per table. `planes` is the
  * numTables×nbits hyperplane set flattened row-major (plane for table t,
  * bit b at index t·nbits+b), carried as a plan literal. Bit b of signature
  * t is set iff ⟨vector, plane⟩ > 0 (`QuantKernels.lshSignatures`:
  * float-multiply / double-add, matching the original UDF bit-for-bit so
  * bucket layouts are stable across the migration).
  */
case class LshSignatures(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with QuantExpression {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(ArrayType(FloatType)), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_signatures"
  override protected def modelArgs: Seq[(String, Expression)] = Seq("planes" -> second)

  @transient private lazy val planes = rows(second)

  override protected def nullSafeEval(v: Any, p: Any, nb: Any): Any =
    new GenericArrayData(QuantKernels.lshSignatures(
      v.asInstanceOf[ArrayData].toFloatArray(), planes, nb.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pl = ctx.addReferenceObj("planes", planes, "float[][]")
    nullSafeCodeGen(ctx, ev, (v, _, nb) =>
      s"${ev.value} = new $GenericArray($Kernels.lshSignatures($v.toFloatArray(), $pl, $nb));")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** `nearest_centroids(vector ARRAY<FLOAT>, centroids ARRAY<ARRAY<FLOAT>>,
  * nprobe INT)` → ARRAY<INT>: the nprobe nearest centroid indices in
  * ascending-distance order — the distributed probe kernel: query sets too
  * large to collect driver-side compute their probe lists row-by-row inside
  * codegen, with the centroid table riding in the plan as a literal.
  * `ip = true` ranks by negative inner product (the ip space's coarse
  * metric, `ivf.go:186-201`); otherwise squared L2. It is
  * `QuantKernels.nearestCentroids`, the same method (and so the same
  * `Double.compare` order, ties → lowest index) as the driver
  * `IvfIndex.Model.probe`.
  */
case class NearestCentroids(first: Expression, second: Expression,
    third: Expression, ip: Boolean = false)
    extends TernaryExpression with QuantExpression {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(ArrayType(FloatType)), IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"
  override protected def modelArgs: Seq[(String, Expression)] = Seq("centroids" -> second)

  @transient private lazy val cents = rows(second)

  override protected def nullSafeEval(v: Any, cs: Any, np: Any): Any =
    new GenericArrayData(QuantKernels.nearestCentroids(
      v.asInstanceOf[ArrayData].toFloatArray(), cents, np.asInstanceOf[Int], ip))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("cents", cents, "float[][]")
    nullSafeCodeGen(ctx, ev, (v, _, np) =>
      s"${ev.value} = new $GenericArray($Kernels.nearestCentroids($v.toFloatArray(), $cs, $np, $ip));")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** `pq_encode(vector ARRAY<FLOAT>, cluster_id INT,
  *            centroids ARRAY<ARRAY<FLOAT>>, codebooks ARRAY<ARRAY<FLOAT>>)`
  * → ARRAY<INT>: the m residual sub-space codes of SURVEY F6
  * (`ivfpq.go:178-231`'s encode loop as one codegen pass). `codebooks` is
  * the [m][k][subDim] table flattened row-major (codeword c of subspace j at
  * index j·k+c; m = centroid width / subDim). Residual =
  * vector − centroids[cluster_id]; per subspace the code is the argmin of
  * squared-L2 to the codewords (`QuantKernels.pqCodes`, ties → lowest
  * index).
  */
case class PqEncodeCodes(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with QuantExpression {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), IntegerType,
      ArrayType(ArrayType(FloatType)), ArrayType(ArrayType(FloatType)))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def modelArgs: Seq[(String, Expression)] =
    Seq("centroids" -> third, "codebooks" -> fourth)

  @transient private lazy val cents = rows(third)
  @transient private lazy val books = QuantExpression.codebooks(cents, rows(fourth))

  override protected def nullSafeEval(v: Any, cid: Any, cs: Any, cbs: Any): Any =
    new GenericArrayData(QuantKernels.pqCodes(
      v.asInstanceOf[ArrayData].toFloatArray(), cents(cid.asInstanceOf[Int]), books))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("cents", cents, "float[][]")
    val bs = ctx.addReferenceObj("books", books, "float[][][]")
    nullSafeCodeGen(ctx, ev, (v, cid, _, _) =>
      s"${ev.value} = new $GenericArray($Kernels.pqCodes($v.toFloatArray(), $cs[$cid], $bs));")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

/** `mat_vec_mul(vector ARRAY<FLOAT>, mat ARRAY<ARRAY<FLOAT>>)` →
  * ARRAY<FLOAT>: out[r] = ⟨mat[r], vector⟩ — the per-row rotation kernel of
  * the OPQ pre-transform (mat = R, row-major, carried as a plan literal).
  * `QuantKernels.matVecMul` (double accumulation, narrowed to float) is
  * also what rotates the driver-side queries and point writes, so rotated
  * corpora and rotated queries agree bit-for-bit.
  */
case class MatVecMul(left: Expression, right: Expression)
    extends BinaryExpression with QuantExpression {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(ArrayType(FloatType)))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "mat_vec_mul"
  override protected def modelArgs: Seq[(String, Expression)] = Seq("mat" -> right)

  @transient private lazy val mat = rows(right)

  override protected def nullSafeEval(v: Any, mt: Any): Any =
    new GenericArrayData(QuantKernels.matVecMul(v.asInstanceOf[ArrayData].toFloatArray(), mat))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mt = ctx.addReferenceObj("mat", mat, "float[][]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = new $GenericArray($Kernels.matVecMul($v.toFloatArray(), $mt));")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
