package graft.kernels

/** Quantizer kernels — k-means assignment, probing, PQ encode and ADC
  * tables, the OPQ rotation, SQ8, BQ and LSH signatures — as static methods
  * on primitive arrays: the ONE definition of each loop. The Catalyst
  * expressions call them from both `doGenCode` (a static call, as `L2Sq`
  * calls `VecKernels`) and `nullSafeEval`, and the driver paths (the
  * maintained point write's `LocalEncode`, `IvfIndex.Model.probe`, the
  * zero-job ivf/pq/opq serves, `IvfPq.train`) call the same methods, so
  * distributed and driver results agree bit for bit by construction.
  *
  * Arithmetic contract (what the stored layouts were built with):
  *  - accumulation is double, left to right (an inner product is
  *    `-VecKernels.negDot`: negation is exact, so the bits are the sum's);
  *  - PQ encode and the ADC table subtract the centroid in FLOAT, then widen;
  *  - `matVecMul` narrows each row's dot product to float;
  *  - `sqEncode` rounds the double product with `Math.round`;
  *  - LSH multiplies in float and adds in double;
  *  - every argmin keeps the lowest index on ties.
  *
  * Each kernel checks its one dimension invariant and throws an
  * `IllegalArgumentException` naming both sides, so a wrong-dimension row
  * fails loudly instead of being assigned on a prefix.
  */
object QuantKernels {

  private def requireDim(dim: Int, other: Int, what: String, otherWhat: String): Unit =
    if (dim != other)
      throw new IllegalArgumentException(s"$what dimension $dim != $otherWhat $other")

  /** Index of the squared-L2-nearest centroid (strict `<`, so ties and an
    * all-NaN row go to the lowest index).
    */
  def nearestCentroid(v: Array[Float], cents: Array[Array[Float]]): Int = {
    if (cents.length > 0) requireDim(v.length, cents(0).length, "vector", "centroid dimension")
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val s = VecKernels.l2sq(v, cents(c))
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** The `min(nprobe, |cents|)` nearest centroid indices, nearest first:
    * squared L2, or negative inner product when `ip`. Ordered by
    * `Double.compare` (NaN last), ties to the lowest index — the probe order
    * of the driver serves and of the distributed `nearest_centroids`.
    */
  def nearestCentroids(v: Array[Float], cents: Array[Array[Float]], nprobe: Int,
      ip: Boolean): Array[Int] = {
    val n = cents.length
    if (n > 0) requireDim(v.length, cents(0).length, "query", "centroid dimension")
    val d = new Array[Double](n)
    var c = 0
    while (c < n) {
      d(c) = if (ip) VecKernels.negDot(v, cents(c)) else VecKernels.l2sq(v, cents(c))
      c += 1
    }
    val out = new Array[Int](math.min(nprobe, n))
    val taken = new Array[Boolean](n)
    var j = 0
    while (j < out.length) {
      var best = -1; var t = 0
      while (t < n) {
        if (!taken(t) && (best < 0 || java.lang.Double.compare(d(t), d(best)) < 0)) best = t
        t += 1
      }
      taken(best) = true; out(j) = best
      j += 1
    }
    out
  }

  /** Σ_t ((v[off+t] − cent[off+t]) widened − cw[t])² — the residual-to-
    * codeword distance PQ encode and the l2/cos ADC table share.
    */
  private def residualSq(v: Array[Float], cent: Array[Float], off: Int,
      cw: Array[Float]): Double = {
    var s = 0.0; var t = 0
    while (t < cw.length) {
      val d = (v(off + t) - cent(off + t)).toDouble - cw(t)
      s += d * d; t += 1
    }
    s
  }

  /** The m PQ codes of `v`'s residual against `cent`: per subspace j the
    * argmin over codebooks(j) ([m][k][subDim]) of `residualSq`.
    */
  def pqCodes(v: Array[Float], cent: Array[Float],
      codebooks: Array[Array[Array[Float]]]): Array[Int] = {
    requireDim(v.length, cent.length, "vector", "centroid dimension")
    val out = new Array[Int](codebooks.length)
    var j = 0
    while (j < codebooks.length) {
      val book = codebooks(j)
      val off = j * book(0).length
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < book.length) {
        val s = residualSq(v, cent, off, book(c))
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    out
  }

  /** The m×k ADC table (entry j·k+c) of query `q` against the list centred
    * at `cent` (`ivfpq.go:259-277`'s table shape, ip-extended). mode 0 =
    * l2: `residualSq`. mode 1 = ip: −⟨q_j, codeword⟩, with the per-list
    * constant −⟨q, cent⟩ folded into subspace 0 so cross-list rankings stay
    * comparable. mode 2 = cos: the l2 entry halved (over unit vectors
    * ||q̂−x̂||²/2 is exactly the cosine distance; the caller normalizes `q`).
    */
  def adcTable(q: Array[Float], cent: Array[Float],
      codebooks: Array[Array[Array[Float]]], mode: Int): Array[Float] = {
    requireDim(q.length, cent.length, "query", "centroid dimension")
    val m = codebooks.length; val k = codebooks(0).length
    val qDotCent = if (mode == 1) -VecKernels.negDot(q, cent) else 0.0
    val out = new Array[Float](m * k)
    var j = 0
    while (j < m) {
      val off = j * codebooks(j)(0).length
      var c = 0
      while (c < k) {
        val cw = codebooks(j)(c)
        var s = 0.0
        if (mode == 1) {
          var t = 0
          while (t < cw.length) { s -= q(off + t).toDouble * cw(t); t += 1 }
          if (j == 0) s -= qDotCent
        } else s = residualSq(q, cent, off, cw)
        out(j * k + c) = (if (mode == 2) s * 0.5 else s).toFloat
        c += 1
      }
      j += 1
    }
    out
  }

  /** out[r] = ⟨mat[r], v⟩ accumulated in double, narrowed to float — the
    * OPQ rotation.
    */
  def matVecMul(v: Array[Float], mat: Array[Array[Float]]): Array[Float] = {
    if (mat.length > 0) requireDim(v.length, mat(0).length, "vector", "matrix row width")
    val out = new Array[Float](mat.length)
    var r = 0
    while (r < mat.length) { out(r) = (-VecKernels.negDot(mat(r), v)).toFloat; r += 1 }
    out
  }

  /** SQ8 code: byte i = clamp(round((v[i] − mins[i]) widened · scales[i]),
    * 0, 255).
    */
  def sqEncode(v: Array[Float], mins: Array[Float], scales: Array[Float]): Array[Byte] = {
    requireDim(v.length, mins.length, "vector", "model dimension")
    val out = new Array[Byte](v.length)
    var i = 0
    while (i < v.length) {
      val q = Math.round((v(i) - mins(i)).toDouble * scales(i))
      out(i) = Math.max(0L, Math.min(255L, q)).toByte
      i += 1
    }
    out
  }

  /** Asymmetric squared L2 between `q` and the dequantized SQ8 `code`:
    * Σ (q[i] − (mins[i] + (code[i] & 0xFF) · invScales[i]))².
    */
  def sqAdcL2(q: Array[Float], code: Array[Byte], mins: Array[Float],
      invScales: Array[Float]): Double = {
    requireDim(q.length, code.length, "query", "code dimension")
    var s = 0.0; var i = 0
    while (i < q.length) {
      val d = q(i) - (mins(i).toDouble + (code(i) & 0xFF).toDouble * invScales(i))
      s += d * d; i += 1
    }
    s
  }

  /** BQ code of ceil(dim/8) bytes: bit i (byte i/8, mask 1<<(i%8)) is set
    * iff v[i] > thresholds[i]; pad bits stay zero.
    */
  def bqEncode(v: Array[Float], thresholds: Array[Float]): Array[Byte] = {
    requireDim(v.length, thresholds.length, "vector", "model dimension")
    val out = new Array[Byte]((v.length + 7) / 8)
    var i = 0
    while (i < v.length) {
      if (v(i) > thresholds(i)) out(i >> 3) = (out(i >> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    out
  }

  /** Hamming distance between two packed BQ codes: popcount of the XOR. */
  def bqHamming(a: Array[Byte], b: Array[Byte]): Int = {
    if (a.length != b.length)
      throw new IllegalArgumentException(s"code length ${a.length} != ${b.length}")
    var s = 0; var i = 0
    while (i < a.length) { s += Integer.bitCount((a(i) ^ b(i)) & 0xFF); i += 1 }
    s
  }

  /** One sign-bit signature per table: `planes` is numTables×nbits
    * hyperplanes flattened row-major (table t, bit b at t·nbits+b); bit b of
    * signature t is set iff ⟨v, plane⟩ > 0, multiplied in float and summed
    * in double.
    */
  def lshSignatures(v: Array[Float], planes: Array[Array[Float]], nbits: Int): Array[Long] = {
    if (planes.length > 0) requireDim(v.length, planes(0).length, "vector", "plane dimension")
    val out = new Array[Long](planes.length / nbits)
    var t = 0
    while (t < out.length) {
      var sig = 0L; var b = 0
      while (b < nbits) {
        val plane = planes(t * nbits + b)
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * plane(i); i += 1 }
        if (s > 0) sig |= (1L << b)
        b += 1
      }
      out(t) = sig
      t += 1
    }
    out
  }
}
