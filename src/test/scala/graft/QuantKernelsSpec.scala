package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft._
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.operators.{IvfIndex, IvfPq, LocalEncode}

/** The quantizer expressions' two evaluation paths and their guards. Both
  * `doGenCode` and `nullSafeEval` call `graft.kernels.QuantKernels`, so the
  * generated and the interpreted result must agree to the last bit; a model
  * argument must be a constant; a wrong-dimension vector must fail loudly.
  */
class QuantKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val nlist = 4

  private def vecLit(xs: Array[Float]): Expression = Literal.create(xs.toSeq, ArrayType(FloatType))
  private def matLit(xs: Array[Array[Float]]): Expression =
    Literal.create(xs.map(_.toSeq).toSeq, ArrayType(ArrayType(FloatType)))
  private def e(c: Column): Expression = Bridge.expression(c)

  // a duplicated centroid and a duplicated codeword exercise the tie-breaks
  private val cents = Array.tabulate(nlist, dim)((c, i) =>
    if (c == 2) (i - 1).toFloat else (math.sin(c * 5 + i) * 4).toFloat)
  cents(3) = cents(1).clone()
  private val m = 2; private val k = 4
  private val books = Array.tabulate(m * k, dim / m)((c, t) => (math.cos(c * 3 + t) * 2).toFloat)
  books(k - 1) = books(0).clone()

  test("codegen ≡ interpreted, bit for bit, for every quantizer expression") {
    val rnd = new scala.util.Random(7)
    val vs = (0 until 40).map(_ => Array.fill(dim)(rnd.nextFloat() * 10f - 5f)) ++ Seq(
      Array.fill(dim)(0f), Array.fill(dim)(1e-40f), cents(1).clone(),
      Array.tabulate(dim)(i => if (i == 3) Float.NaN else 1f))
    val input = vs.zipWithIndex.map { case (v, i) =>
      (i, v.toSeq, i % nlist, Array.tabulate(dim)(j => (i * 31 + j * 7).toByte),
        Array.tabulate(1)(j => (i * 13 + j).toByte))
    }.toDF("i", "v", "cid", "code8", "code1").cache()
    val mins = Array.tabulate(dim)(i => if (i == 0) 1f else -5f + i * 0.25f)
    val scales = Array.tabulate(dim)(i => if (i == 0) 0f else 255f / (10f - i * 0.5f))
    val invs = scales.map(s => if (s == 0f) 0f else 1f / s)
    val rot = Array.tabulate(dim, dim)((r, c) => math.cos(r * 3 + c).toFloat)
    val planes = Array.tabulate(6, dim)((p, i) => math.sin(p * 11 + i * 3).toFloat)
    val v = e(col("v")); val cid = e(col("cid"))
    val exprs: Seq[(String, Expression)] = Seq(
      "nearest_centroid" -> NearestCentroid(v, matLit(cents)),
      "nearest_centroids l2" -> NearestCentroids(v, matLit(cents), Literal(3)),
      "nearest_centroids ip" -> NearestCentroids(v, matLit(cents), Literal(3), ip = true),
      "pq_encode" -> PqEncodeCodes(v, cid, matLit(cents), matLit(books)),
      "mat_vec_mul" -> MatVecMul(v, matLit(rot)),
      "sq_encode" -> SqEncode(v, vecLit(mins), vecLit(scales)),
      "sq_adc_l2" -> SqAdcL2(v, e(col("code8")), vecLit(mins), vecLit(invs)),
      "bq_encode" -> BqEncode(v, vecLit(mins)),
      "bq_hamming" -> BqHamming(e(col("code1")), e(lit(Array[Byte](0x5a)))),
      "lsh_signatures" -> LshSignatures(v, matLit(planes), Literal(3))) ++
      (0 to 2).map(mode =>
        s"pq_adc_table mode $mode" -> PqAdcTable(v, cid, matLit(cents), matLit(books), mode))
    // floats and doubles compare by raw bits, so NaN and -0.0 count too
    def bits(x: Any): Any = x match {
      case f: Float => java.lang.Float.floatToRawIntBits(f)
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case b: Array[Byte] => b.toSeq
      case s: scala.collection.Seq[_] => s.map(bits)
      case o => o
    }
    for ((name, ex) <- exprs) {
      // a fresh Dataset per path: a Dataset plans once and keeps that plan
      val (generated, interpreted) = codegenAndInterpreted {
        val out = input.select(col("i"), Bridge.column(ex).as("out"))
        (out.collect().map(r => r.getInt(0) -> bits(r.get(1))).toMap,
          out.queryExecution.executedPlan.toString)
      }
      assert(generated._2.split("\n").exists(l => l.contains("*(") && l.contains(ex.prettyName)),
        s"$name did not run in whole-stage codegen:\n${generated._2}")
      assert(generated._1.size === vs.size)
      assert(generated._1 === interpreted._1, s"$name: codegen and interpreted results differ")
    }
    input.unpersist()
  }

  test("a wrong-dimension vector fails with both dimensions named " +
      "(IvfIndex.assign, IvfPq.encode, LocalEncode.ivfAssign)") {
    val ivf = IvfIndex.Model(cents, core.SpaceType.L2)
    val pq = IvfPq.Model(ivf, books.grouped(k).toArray, m, dim / m)
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    for (wrong <- Seq(dim - 1, dim + 1)) {
      val msg = s"vector dimension $wrong != centroid dimension $dim"
      val df = Seq(("a", Seq.fill(wrong)(1f))).toDF("id", "vector")
      val runs: Seq[(String, () => Any)] = Seq(
        "IvfIndex.assign" -> (() => IvfIndex.assign(df, "vector", ivf).collect()),
        "IvfPq.encode" -> (() => IvfPq.encode(df, "vector", pq).collect()))
      for ((name, run) <- runs) {
        val ex = intercept[Exception](run())
        assert(rootMessages(ex).exists(_.contains(msg)), s"$name [$wrong]: ${rootMessages(ex)}")
      }
      val local = intercept[IllegalArgumentException](
        LocalEncode.ivfAssign(Array.fill(wrong)(1f), ivf))
      assert(local.getMessage.contains(msg))
      intercept[IllegalArgumentException](LocalEncode.pqRow(Array.fill(wrong)(1f), pq))
    }
  }

  test("a non-constant model argument is rejected at analysis") {
    val df: DataFrame = Seq((Seq.fill(dim)(1f), Seq.fill(dim)(0f))).toDF("v", "t")
    val v = e(col("v"))
    val t = e(col("t"))
    for (ex <- Seq(NearestCentroid(v, e(array(col("t")))), BqEncode(v, t),
        SqEncode(v, vecLit(Array.fill(dim)(0f)), t))) {
      val err = intercept[AnalysisException](df.select(Bridge.column(ex)))
      assert(err.getMessage.contains("NON_FOLDABLE_INPUT"), err.getMessage)
    }
    assert(df.select(Bridge.column(BqEncode(v, vecLit(Array.fill(dim)(0f)))))
      .collect().head.getAs[Array[Byte]](0).toSeq === Seq(0xff.toByte))
  }
}
