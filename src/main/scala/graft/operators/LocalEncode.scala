package graft.operators

import graft.kernels.QuantKernels

/** Driver-side layout-row encoders for a driver-sized maintained point
  * write (the REST upsert): each appends exactly the layout rows a Spark
  * encode job would have produced, without paying the ~100 ms per-job
  * floor. They call the same `graft.kernels.QuantKernels` methods the
  * codegen encode expressions call, so the rows are bit-identical by
  * construction (`LocalEncodeSpec` checks them against the executed
  * DataFrame encodes to the last bit).
  *
  * The models involved are tiny (centroids, codebooks, a d×d rotation,
  * per-dim thresholds) and already loaded on the driver for probe routing,
  * so no data moves: this is the write-side analogue of the zero-job point
  * reads in `LocalPointReader`.
  */
object LocalEncode {

  /** Twin of `IvfIndex.assign`: the layout's cluster id. */
  def ivfAssign(v: Array[Float], m: IvfIndex.Model): Int =
    QuantKernels.nearestCentroid(v, m.centroids)

  /** Twin of `IvfPq.encode` for one row: cos normalizes first (via the
    * shared `l2NormalizeLocal`, the documented bit-identical twin of the
    * DataFrame normalization), assigns against the coarse centroids, then
    * encodes the residual. Returns (cluster_id, codes).
    */
  def pqRow(v: Array[Float], m: IvfPq.Model): (Int, Array[Int]) = {
    val enc = if (m.space == graft.core.SpaceType.Cos) IvfPq.l2NormalizeLocal(v) else v
    val cid = QuantKernels.nearestCentroid(enc, m.coarse.centroids)
    (cid, QuantKernels.pqCodes(enc, m.coarse.centroids(cid), m.codebooks))
  }

  /** Twin of `Opq.encode` for one row: rotate, then the stock PQ row over
    * the rotated vector. Returns (__rvec, cluster_id, codes) — the rotated
    * column stays on the layout exactly as the DataFrame path keeps it.
    */
  def opqRow(v: Array[Float], m: Opq.Model): (Array[Float], Int, Array[Int]) = {
    val rvec = QuantKernels.matVecMul(v, m.rotation)
    val (cid, codes) = pqRow(rvec, m.pq)
    (rvec, cid, codes)
  }

  /** Twin of `ScalarQuant.encode` for one row. */
  def sqRow(v: Array[Float], m: ScalarQuant.Model): Array[Byte] =
    QuantKernels.sqEncode(v, m.mins, m.scales)

  /** Twin of `BinaryQuant.encode` for one row. */
  def bqRow(v: Array[Float], m: BinaryQuant.Model): Array[Byte] =
    QuantKernels.bqEncode(v, m.thresholds)
}
