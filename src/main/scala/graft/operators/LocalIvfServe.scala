package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SpaceType
import graft.kernels.VecKernels

/** Shared plumbing of the zero-job cell-serving tiers: resolve a request's
  * probed cells against a `LocalCellCache` — cache hits held by direct
  * reference, the oversized pre-check from the parquet listing (driver-side,
  * no job), and ONE partition-pruned collect for all misses from the
  * caller's tombstone-applied layout frame (shadowing semantics shared with
  * the distributed plan by construction, not re-derived).
  */
private[graft] object LocalCellResolve {

  /** Cache probe: cells already held (by direct reference) and the probe's
    * misses, with the hit/miss counters advanced.
    */
  private def probe[C](cache: LocalCellCache[C], keyPath: String, stamp: Long,
      needed: Seq[Int]): (scala.collection.mutable.Map[Int, Option[C]], Seq[Int]) = {
    val held = scala.collection.mutable.Map.empty[Int, Option[C]]
    needed.foreach { c =>
      cache.get((keyPath, stamp, c)).foreach(v => held(c) = v)
    }
    val missing = needed.filterNot(held.contains)
    cache.hits.addAndGet(held.size.toLong)
    cache.misses.addAndGet(missing.length.toLong)
    (held, missing)
  }

  /** Partition `missing` into (oversized, loadable) by the parquet disk
    * footprint of each cell's partition dir (driver-side listing, no job):
    * a cell whose estimated RESIDENT size exceeds the whole byte budget
    * must never be collected to the driver.
    */
  private def splitOversized(fsPath: String,
      partCol: String, missing: Seq[Int], maxBytes: Long): (Seq[Int], Seq[Int]) = {
    val fsBase = new org.apache.hadoop.fs.Path(fsPath)
    // the memoized serving conf: newHadoopConf() copies the whole conf,
    // once per cell miss
    val fsys = fsBase.getFileSystem(graft.core.ControlFs.servingConf())
    missing.partition { c =>
      val dir = new org.apache.hadoop.fs.Path(fsBase, s"$partCol=$c")
      val disk = if (fsys.exists(dir)) fsys.getContentSummary(dir).getLength else 0L
      disk * GraphAnn.LocalServeDiskExpansion > maxBytes
    }
  }

  /** ONE partition-pruned collect for every cell in `toLoad`, built and
    * inserted under (keyPath, stamp, cell); absent cells cache as None.
    */
  private def load[C](cache: LocalCellCache[C], keyPath: String, stamp: Long,
      partCol: String, layoutFrame: DataFrame, toLoad: Seq[Int],
      select: DataFrame => DataFrame, build: Array[Row] => C,
      held: scala.collection.mutable.Map[Int, Option[C]]): Unit = {
    val byCell = select(layoutFrame
        .filter(col(partCol).isin(toLoad.map(Int.box): _*)))
      .collect().groupBy(_.getInt(0))
    cache.loads.incrementAndGet()
    toLoad.foreach { c =>
      val cell = byCell.get(c).map(build)
      held(c) = cell
      cache.insert((keyPath, stamp, c), cell)
    }
  }

  /** None = a probed cell's disk footprint exceeds the whole byte budget —
    * the caller declines the REQUEST to the distributed plan (nothing is
    * collected on the decline path).
    */
  def resolve[C](cache: LocalCellCache[C], path: String,
      stamp: Long, layoutFrame: => DataFrame, needed: Seq[Int], maxBytes: Long,
      select: DataFrame => DataFrame,
      build: Array[Row] => C): Option[collection.Map[Int, Option[C]]] = {
    val (held, missing) = probe(cache, path, stamp, needed)
    if (missing.nonEmpty) {
      val (oversized, loadable) =
        splitOversized(path, "cluster_id", missing, maxBytes)
      if (oversized.nonEmpty) {
        cache.oversizedDeclines.incrementAndGet(); return None
      }
      load(cache, path, stamp, "cluster_id", layoutFrame, loadable,
        select, build, held)
    }
    Some(held)
  }

  /** The graph tier's PER-CELL variant: loadable misses are collected and
    * cached, oversized ones are returned for the caller to serve through a
    * bounded distributed job instead (the request proceeds either way —
    * the graph tier never declines wholesale). `keyPath` keys the cache
    * (a layout id, possibly ephemeral); `fsPath` locates the partition
    * dirs on disk; `partCol` is the layout's partition column name.
    */
  def resolveSplit[C](cache: LocalCellCache[C],
      keyPath: String, stamp: Long, fsPath: String, partCol: String,
      layoutFrame: => DataFrame, needed: Seq[Int], maxBytes: Long,
      select: DataFrame => DataFrame, build: Array[Row] => C)
      : (scala.collection.mutable.Map[Int, Option[C]], Seq[Int]) = {
    val (held, missing) = probe(cache, keyPath, stamp, needed)
    if (missing.isEmpty) return (held, Nil)
    val (oversized, loadable) =
      splitOversized(fsPath, partCol, missing, maxBytes)
    if (loadable.nonEmpty)
      load(cache, keyPath, stamp, partCol, layoutFrame, loadable,
        select, build, held)
    (held, oversized)
  }
}

/** ZERO-SPARK-JOB point serving over the IVF inverted-list layout — the
  * `GraphAnn.searchPointLocal` architecture applied to the ivf_flat tier
  * (reference `internal/index/ivf.go` Search semantics, served like the
  * driver-local tiers): probe lists come from the driver-resident coarse
  * centroids, probed CELLS are collected once per (layout, stamp) into a
  * budget-bounded driver cache, and warm single/few-query requests rank
  * entirely in-JVM — the ~100–300 ms per-request Spark stage-scheduling
  * floor the latency harness measures on the distributed pruned path
  * disappears.
  *
  * Results are IDENTICAL to `IvfIndex.search`/`searchDistributed` at equal
  * knobs, by construction: the same `Model.probe` (same coarse metric and
  * (distance, index) centroid tie-break), distances through the SAME
  * `VecKernels` arithmetic the codegen expressions inline, ranking by
  * (distance asc, id asc) with the UTF-8-byte id order the distributed
  * ties use (`GraphAnn.idLt`), and cells loaded from the SAME
  * tombstone-applied layout frame the distributed plan scans — so
  * tombstone/version shadowing semantics are literally the one Catalyst
  * plan, not a re-implementation (`LocalIvfParitySpec` gates equality,
  * including ties, deletes, and filtered serving).
  *
  * Scale: the cache holds probed cells only, bounded by resident BYTES
  * (dim-aware) and entry count with insertion-order eviction; a cell whose
  * parquet footprint says it cannot fit the whole budget is never
  * collected — the request declines (returns None) and the caller serves
  * it through the distributed partition-pruned plan instead. In-flight
  * requests hold direct references, so concurrent eviction is a reload
  * cost, never a correctness event.
  */
object LocalIvfServe {

  /** One cached cell: the cell's rows as parallel driver arrays. `ntoks`
    * carries each row's `__ntok` param (-1 when absent) so a MULTIVECTOR
    * shortlist hit also yields its doc's token count — the MaxSim serve
    * then enumerates candidate token-row ids with ZERO extra point reads
    * (r11's 52 ms p50 was dominated by a token-count pre-read pass).
    */
  private final case class Cell(ids: Array[Any], vecs: Array[Array[Float]],
      ntoks: Array[Int]) {
    def residentBytes: Long = {
      val dim = if (vecs.nonEmpty && vecs(0) != null) vecs(0).length else 0
      // float payload + ntok int + array/object headers + boxed id estimate
      ids.length.toLong * (dim.toLong * 4L + 100L)
    }
  }

  /** Driver-heap bound in resident BYTES (the same reasoning as
    * `GraphAnn.maxLocalServeBytes`); operable knob, default 1 GiB.
    */
  @volatile var maxLocalIvfBytes: Long = 1L << 30

  private val cache = new LocalCellCache[Cell](256, _.residentBytes,
    () => maxLocalIvfBytes)
  private val idTypes = scala.collection.concurrent.TrieMap
    .empty[(String, Long), DataType]

  def metrics: Map[String, Long] = cache.metrics("ivf_local", maxLocalIvfBytes)

  private[graft] def dropCells(layoutIdPrefix: String): Unit = {
    cache.drop(layoutIdPrefix)
    idTypes.keys.filter(_._1.startsWith(layoutIdPrefix)).foreach(idTypes.remove)
  }

  private[graft] def clearCells(): Unit = { cache.clear(); idTypes.clear() }

  /** Serve `queries` (driver pairs of (qid, vector)) from driver-cached
    * cells of the layout at `path`/`stamp`. `layoutFrame` is the
    * TOMBSTONE-APPLIED layout frame the distributed plan would scan (the
    * caller's stamp-keyed handle) — cold cells load from it with ONE
    * partition-pruned collect; warm requests launch no job. `eligible`
    * mirrors the distributed semi-join restriction (probe lists stay
    * geometry-pruned, rows filter by id — the ivf tier's filtered
    * semantics, unlike the graph tier's full fan-out). Returns None —
    * caller falls back to the distributed plan — when a probed cell's disk
    * footprint says it cannot fit the byte budget.
    */
  def searchPointLocal(
      spark: SparkSession,
      path: String,
      stamp: Long,
      layoutFrame: => DataFrame,
      model: IvfIndex.Model,
      queries: Seq[(Any, Array[Float])],
      k: Int,
      nprobe: Int,
      qidType: DataType,
      eligible: Option[Set[Any]] = None,
      maxQueries: Int = 64): Option[DataFrame] =
    searchPointLocalRows(spark, path, stamp, layoutFrame, model, queries, k,
      nprobe, eligible, maxQueries).map { rows =>
      val idType = idTypes.getOrElseUpdate((path, stamp), {
        idTypes.keys.filter(kk => kk._1 == path && kk._2 != stamp)
          .foreach(idTypes.remove)
        layoutFrame.schema("id").dataType
      })
      val schema = StructType(Seq(
        StructField("query_id", qidType),
        StructField("id", idType),
        StructField("distance", DoubleType),
        StructField("rnk", LongType)))
      spark.createDataFrame(java.util.Arrays.asList(
        rows.map(r => Row(r._1, r._2, r._3, r._4)): _*), schema)
    }

  /** Driver-rows twin of `searchPointLocal` — (qid, id, distance, rnk)
    * tuples with no DataFrame wrapper, for driver-side consumers (the local
    * MaxSim serve composes per-token shortlists from it without ever
    * constructing a plan).
    */
  def searchPointLocalRows(
      spark: SparkSession,
      path: String,
      stamp: Long,
      layoutFrame: => DataFrame,
      model: IvfIndex.Model,
      queries: Seq[(Any, Array[Float])],
      k: Int,
      nprobe: Int,
      eligible: Option[Set[Any]] = None,
      maxQueries: Int = 64): Option[Seq[(Any, Any, Double, Long)]] =
    searchPointLocalRowsNtok(spark, path, stamp, layoutFrame, model, queries,
      k, nprobe, eligible, maxQueries)
      .map(_.map(t => (t._1, t._2, t._3, t._4)))

  /** `searchPointLocalRows` plus each hit row's `__ntok` param (-1 when
    * absent) — the multivector serve's token-count channel.
    */
  def searchPointLocalRowsNtok(
      spark: SparkSession,
      path: String,
      stamp: Long,
      layoutFrame: => DataFrame,
      model: IvfIndex.Model,
      queries: Seq[(Any, Array[Float])],
      k: Int,
      nprobe: Int,
      eligible: Option[Set[Any]] = None,
      maxQueries: Int = 64): Option[Seq[(Any, Any, Double, Long, Int)]] = {
    require(k > 0, s"k must be positive, got $k")
    require(queries.length <= maxQueries,
      s"searchPointLocal is the driver-serve path (${queries.length} queries > " +
        s"$maxQueries); use IvfIndex.search/searchDistributed for batches")
    // validation lives in Model.probe (same require as every distributed
    // path — the two must reject identical inputs identically)
    val probed: Array[Seq[Int]] =
      queries.toArray.map(q => model.probe(q._2, nprobe))
    val needed = probed.flatten.distinct.sorted
    val heldOpt = LocalCellResolve.resolve[Cell](cache, path, stamp,
      layoutFrame, needed, maxLocalIvfBytes,
      // try_element_at: null-safe under ANSI (plain element_at throws on
      // a missing key); single-vector rows read -1
      df => df.select(col("cluster_id").cast("int"), col("id"),
        col("vector").cast("array<float>"),
        coalesce(expr("try_element_at(params, '__ntok')").cast("int"),
          lit(-1))),
      rs => Cell(rs.map(_.get(1): Any),
        rs.map(r => r.getAs[scala.collection.Seq[Float]](2).toArray),
        rs.map(_.getInt(3))))
    if (heldOpt.isEmpty) return None
    val held = heldOpt.get
    val out = Seq.newBuilder[(Any, Any, Double, Long, Int)]
    var qi = 0
    while (qi < queries.length) {
      val (qid, qv) = queries(qi)
      val hits = scala.collection.mutable.ArrayBuffer.empty[(Any, Double, Int)]
      probed(qi).foreach { c =>
        held.getOrElse(c, None).foreach { cell =>
          var i = 0
          while (i < cell.ids.length) {
            val id = cell.ids(i)
            if (eligible.forall(_.contains(id)))
              hits += ((id, VecKernels.dist(qv, cell.vecs(i), model.space),
                cell.ntoks(i)))
            i += 1
          }
        }
      }
      // the distributed paths rank via (distance asc, id asc) with UTF-8
      // byte order on string ids — GraphAnn.idLt IS that order
      val ranked = hits.toArray
        .sortWith((a, b) => a._2 < b._2 || (a._2 == b._2 && GraphAnn.idLt(a._1, b._1)))
        .take(k)
      var r = 0
      while (r < ranked.length) {
        out += ((qid, ranked(r)._1, ranked(r)._2, (r + 1).toLong, ranked(r)._3))
        r += 1
      }
      qi += 1
    }
    Some(out.result())
  }
}

/** ZERO-SPARK-JOB ADC shortlisting over the IVFPQ encoded layout — the
  * `LocalIvfServe` architecture on the quantized tier, where it matters
  * even more at scale: a cached cell holds CODES (m bytes of payload per
  * row, not dim floats), so the same byte budget keeps ~dim·4/m times more
  * corpus resident. Per query: probe via the driver-resident coarse
  * centroids (`Model.coarse.probe`, cos-normalizing the query exactly like
  * `IvfPq.search`), build the m×k ADC table with the SAME
  * `IvfPq.adcTableLocal` driver math `search` broadcasts, score each cached
  * code row with the same double-accumulated table-lookup sum as the
  * codegen `AdcLookupSum`, and rank (distance asc, id asc UTF-8). The
  * caller (Engine) re-ranks the tiny shortlist exactly against true vectors
  * fetched through the zero-job point reads — `LocalPqParitySpec` gates the
  * end-to-end equality with `IvfPq.search`.
  */
object LocalPqServe {

  /** One cached cell: ids + PQ codes as parallel driver arrays. */
  private final case class Cell(ids: Array[Any], codes: Array[Array[Int]]) {
    def residentBytes: Long = {
      val m = if (codes.nonEmpty && codes(0) != null) codes(0).length else 0
      // int codes + array/object headers + boxed id estimate per row
      ids.length.toLong * (m.toLong * 4L + 96L)
    }
  }

  /** Byte budget knob (codes are tiny — the default holds ~100M rows). */
  @volatile var maxLocalPqBytes: Long = 1L << 30

  private val cache = new LocalCellCache[Cell](256, _.residentBytes,
    () => maxLocalPqBytes)

  def metrics: Map[String, Long] = cache.metrics("pq_local", maxLocalPqBytes)

  private[graft] def dropCells(layoutIdPrefix: String): Unit =
    cache.drop(layoutIdPrefix)

  private[graft] def clearCells(): Unit = cache.clear()

  /** The ADC SHORTLIST — (qid, id, adcDistance, rnk) rows, `shortlistK` per
    * query — from driver-cached code cells. The exact re-rank (and with it
    * the final result) is the caller's: it owns the point-read path to the
    * true vectors. None = fall back to the distributed plan (oversized
    * probed cell).
    */
  def adcShortlistLocalRows(
      spark: SparkSession,
      path: String,
      stamp: Long,
      layoutFrame: => DataFrame,
      model: IvfPq.Model,
      queries: Seq[(Any, Array[Float])],
      shortlistK: Int,
      nprobe: Int,
      eligible: Option[Set[Any]] = None,
      maxQueries: Int = 64): Option[Seq[(Any, Any, Double, Long)]] = {
    require(shortlistK > 0, s"shortlistK must be positive, got $shortlistK")
    require(queries.length <= maxQueries,
      s"adcShortlistLocalRows is the driver-serve path (${queries.length} " +
        s"queries > $maxQueries); use IvfPq.search/searchDistributed for batches")
    val isCos = model.space == graft.core.SpaceType.Cos
    val qvs = queries.toArray.map { case (qid, raw) =>
      (qid, if (isCos) IvfPq.l2NormalizeLocal(raw) else raw)
    }
    val probed: Array[Seq[Int]] =
      qvs.map(q => model.coarse.probe(q._2, nprobe))
    val needed = probed.flatten.distinct.sorted
    val heldOpt = LocalCellResolve.resolve[Cell](cache, path, stamp,
      layoutFrame, needed, maxLocalPqBytes,
      df => df.select(col("cluster_id").cast("int"), col("id"),
        col("codes").cast("array<int>")),
      rs => Cell(rs.map(_.get(1): Any),
        rs.map(r => r.getAs[scala.collection.Seq[Int]](2).toArray)))
    if (heldOpt.isEmpty) return None
    val held = heldOpt.get
    val out = Seq.newBuilder[(Any, Any, Double, Long)]
    var qi = 0
    while (qi < qvs.length) {
      val (qid, qv) = qvs(qi)
      val hits = scala.collection.mutable.ArrayBuffer.empty[(Any, Double)]
      probed(qi).foreach { c =>
        held.getOrElse(c, None).foreach { cell =>
          val tab = IvfPq.adcTableLocal(model, qv, c)
          val k = model.k
          var i = 0
          while (i < cell.ids.length) {
            val id = cell.ids(i)
            if (eligible.forall(_.contains(id))) {
              // same double accumulation of float lookups as AdcLookupSum
              val codes = cell.codes(i)
              var s = 0.0
              var j = 0
              while (j < codes.length) { s += tab(j * k + codes(j)); j += 1 }
              hits += ((id, s))
            }
            i += 1
          }
        }
      }
      val ranked = hits.toArray
        .sortWith((a, b) => a._2 < b._2 || (a._2 == b._2 && GraphAnn.idLt(a._1, b._1)))
        .take(shortlistK)
      var r = 0
      while (r < ranked.length) {
        out += ((qid, ranked(r)._1, ranked(r)._2, (r + 1).toLong))
        r += 1
      }
      qi += 1
    }
    Some(out.result())
  }
}
