package graft.kernels

/** Primitive distance kernels: the one definition of each distance loop.
  * The Catalyst distance expressions (`VectorExpressions`) call them from
  * both `doGenCode` (a static call) and `nullSafeEval`, the fused top-k
  * aggregate and the driver-local serves rank with the same methods, and
  * `QuantKernels` builds the quantizer kernels on them — so every path runs
  * literally the same JVM method and agrees bit for bit by construction.
  *
  * Why static methods instead of inlining the loop into the generated Java:
  * whole-stage-generated classes are compiled FRESH per query (new class,
  * empty JIT profile), and the KNN crossJoin's generated method sits in a
  * C2 deopt storm under load — `unstable_if` traps fire repeatedly and
  * throw the 8-billion-iteration loop back to the interpreter
  * (`made not entrant` → recompile → trap again; measured ~97
  * cycles/element, 5× the handcrafted floor, on the 125M-pair scan). A
  * static kernel on primitive arrays is compiled once per JVM, keeps its
  * profile across queries and tasks, is trivially monomorphic, and C2
  * unrolls/vectorizes it — the generated code shrinks to two bulk
  * `toFloatArray()` extractions plus one call.
  *
  * Accumulation is double over float32 inputs, left-to-right, matching the
  * DuckDB oracle's list_distance/list_inner_product fold exactly.
  */
object VecKernels {

  /** Squared L2. Assumes x.length == y.length (callers dimension-check). */
  def l2sq(x: Array[Float], y: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) {
      val d = x(i).toDouble - y(i).toDouble
      s += d * d; i += 1
    }
    s
  }

  /** Negative inner product (smaller = more similar). */
  def negDot(x: Array[Float], y: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i).toDouble * y(i).toDouble; i += 1 }
    -s
  }

  /** Cosine distance, zero-norm convention → 1.0. */
  def cosDist(x: Array[Float], y: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < x.length) {
      val xv = x(i).toDouble; val yv = y(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / math.sqrt(na * nb)
  }

  /** Hamming over float elements (count of differing positions). */
  def hammingNe(x: Array[Float], y: Array[Float]): Long = {
    var c = 0L; var i = 0
    while (i < x.length) { if (x(i) != y(i)) c += 1L; i += 1 }
    c
  }

  /** Space → kernel dispatch, the ONE definition the driver-local serving
    * paths rank with (`vfn.distance`'s JVM twin — the same kernels the
    * codegen expressions call, so local and distributed ranks agree
    * bit-for-bit).
    */
  def dist(x: Array[Float], y: Array[Float], space: graft.core.SpaceType): Double =
    space match {
      case graft.core.SpaceType.Ip => negDot(x, y)
      case graft.core.SpaceType.Cos => cosDist(x, y)
      case graft.core.SpaceType.Hamming => hammingNe(x, y).toDouble
      case _ => l2sq(x, y)
    }
}
