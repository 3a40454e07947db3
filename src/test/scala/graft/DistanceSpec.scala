package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.vfn

/** Distance family vs the reference's own test vectors
  * (`internal/index/distance_test.go:8-165`, FIXTURES.md F-4), in both
  * interpreted-eval and whole-stage-codegen paths, plus property tests for
  * metric axioms (plain ScalaCheck Gen — no scalatest-plus bridge in deps).
  */
class DistanceSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  /** `fn(a, b)` under generated code and interpreted eval; they must agree.
    * The input is a cached frame: a `Seq(...).toDF` local relation would be
    * folded by the interpreted evaluator under any codegen setting.
    */
  private def eval(fn: String, a: Seq[Float], b: Seq[Float]): Any = {
    import spark.implicits._
    vfn.register(spark)
    val df = Seq((a, b)).toDF("a", "b").cache()
    try {
      // a fresh Dataset per path: a Dataset plans once and keeps that plan
      val (cg, interp) = codegenAndInterpreted(
        df.select(expr(s"$fn(a, b)")).collect()(0).get(0))
      assert(cg === interp, s"$fn codegen vs interpreted mismatch")
      cg
    } finally df.unpersist()
  }

  test("l2_sq matches reference expected values (distance_test.go:26-33)") {
    assert(eval("l2_sq", Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)) === 0.0)
    assert(eval("l2_sq", Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)) === 27.0)
  }

  test("neg_dot matches reference expected values (distance_test.go:44-58)") {
    assert(eval("neg_dot", Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)) === -14.0)
    assert(eval("neg_dot", Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)) === -32.0)
    assert(eval("neg_dot", Seq(1f, 0f), Seq(0f, 1f)) === 0.0)
  }

  test("cos_dist: identity 0, orthogonal 1, zero-norm convention 1.0") {
    assert(math.abs(eval("cos_dist", Seq(1f, 2f, 3f), Seq(1f, 2f, 3f))
      .asInstanceOf[Double]) < 1e-12)
    assert(eval("cos_dist", Seq(1f, 0f), Seq(0f, 1f)) === 1.0)
    assert(eval("cos_dist", Seq(0f, 0f), Seq(1f, 2f)) === 1.0) // distance.go:21-23
  }

  test("hamming_ne counts element-wise float inequality (distance.go:25-32)") {
    assert(eval("hamming_ne", Seq(1f, 2f, 3f), Seq(1f, 5f, 6f)) === 2L)
    assert(eval("hamming_ne", Seq(1f, 2f), Seq(1f, 2f)) === 0L)
  }

  test("dimension mismatch is a hard error (document.go:71-73 parity)") {
    val e = intercept[Exception](eval("l2_sq", Seq(1f, 2f), Seq(1f, 2f, 3f)))
    assert(e.getMessage.contains("dimensions differ")
      || e.getCause != null && e.getCause.getMessage.contains("dimensions differ"))
  }

  private val vecGen = Gen.choose(1, 8).flatMap { n =>
    Gen.listOfN(n, Gen.choose(-100f, 100f)).map(l => (l, n))
  }

  test("property: l2_sq symmetric, non-negative, zero iff identical") {
    import spark.implicits._
    vfn.register(spark)
    val pairs = samples(vecGen, 20)
    // cached, like `eval`: a local relation would fold to interpreted eval
    val df = pairs.map { case (v, _) => (v, v.map(_ + 1f)) }.toDF("a", "b").cache()
    try {
      val (cg, interp) = codegenAndInterpreted(
        df.select(expr("l2_sq(a,b)"), expr("l2_sq(b,a)"), expr("l2_sq(a,a)")).collect())
      for (rows <- Seq(cg, interp)) {
        assert(rows.length === pairs.size)
        rows.foreach { case Row(ab: Double, ba: Double, aa: Double) =>
          assert(ab === ba && ab >= 0.0 && aa === 0.0)
        }
      }
    } finally df.unpersist()
  }
}
