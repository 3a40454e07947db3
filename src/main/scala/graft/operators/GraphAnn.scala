package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SpaceType

/** Graph-ANN tier: per-partition navigable-small-world graphs built in
  * `mapPartitions`, searched with a beam whose width IS the reference's
  * `efsearch` knob — SURVEY §7.2 step 7(a)'s "HNSW-capability" path
  * (reference `internal/index/hnsw.go` + hnswlib `hnswalg.h:1381-1440`).
  *
  * Why this shape on Spark: a single global mutable graph fights the
  * execution model (per-row pointer chasing across executors), but a graph
  * per PARTITION is embarrassingly parallel to build (the reference's
  * 4-goroutine build, `hnsw_go_api.go:47-90`, becomes task parallelism) and
  * to search (queries broadcast; each partition answers from its local
  * graph; the global answer is the one-pass TopK merge of per-partition
  * top-k's). Search cost scales with numPartitions·ef instead of corpus
  * size — and with COARSE ROUTING (`searchRouted` / `routeNprobe`), with
  * routeNprobe·ef: k-means cells make partitions spatially coherent, and
  * each query beams only through its nearest cells, the step that keeps
  * this tier viable at the 10⁴–10⁵ partitions a 100 TB corpus shards into.
  *
  * The graph itself is a fresh multi-layer HNSW (`NswIndex`): hierarchical
  * greedy descent + layer-0 beam, with deterministic hash-derived levels so
  * every search replays bit-identically for the oracle gates.
  */
object GraphAnn {

  /** In-memory single-partition HNSW graph — the reference's actual
    * hierarchical shape (`hnswalg.h:1381-1440`: greedy descent through the
    * upper layers to a good entry point, then one beam at layer 0), built
    * fresh in Scala. Node levels are drawn from the standard geometric
    * distribution with multiplier 1/ln(M), but from a DETERMINISTIC
    * splitmix hash of the insertion ordinal rather than an RNG: the graph —
    * and so every exported candidate set — replays bit-identically, which
    * the oracle construction requires. `levelMult = 0.0` degenerates to the
    * flat single-layer NSW (every node at layer 0) — the comparison
    * baseline GraphAnnSpec uses to assert the hierarchy's visit savings.
    *
    * Not thread-safe; build then search.
    */
  final class NswIndex(dim: Int, m: Int, efConstruction: Int, space: SpaceType,
      levelMult: Double = Double.NaN) {
    private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    private val ids = mutable.ArrayBuffer.empty[Any]
    // links(node)(layer) — a node participates in layers 0..levels(node)
    private val links = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    private val levels = mutable.ArrayBuffer.empty[Int]
    private var entryNode = -1
    private var maxLevel = -1
    private val maxM0 = 2 * m
    private val mL =
      if (levelMult.isNaN) 1.0 / math.log(math.max(2, m).toDouble) else levelMult

    private val AllowAll: Int => Boolean = _ => true

    /** Distance computations since the last reset — the work metric the
      * hierarchy exists to shrink (spec-asserted).
      */
    private var distCalls = 0L
    private[graft] def visitedDistances: Long = distCalls
    private[graft] def resetVisited(): Unit = distCalls = 0L

    /** Geometric level from a splitmix64 hash of the ordinal: P(level ≥ l)
      * = e^(-l/mL); capped at 24 (astronomically unlikely beyond).
      */
    private def levelOf(ord: Int): Int = {
      if (mL <= 0.0) return 0
      var h = ord.toLong * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
      h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
      h ^= h >>> 27; h *= 0x94D049BB133111EBL
      h ^= h >>> 31
      val u = ((h >>> 11).toDouble + 0.5) / (1L << 53).toDouble // uniform (0,1)
      math.min((-math.log(u) * mL).toInt, 24)
    }

    // beam distances in l2 for the Hamming space (graphs need a geometric
    // metric; element-!= counts don't navigate) — otherwise the shared
    // scalar kernel replica, so there is exactly ONE hand-rolled copy of
    // the must-stay-bit-identical arithmetic (`spaceDist`)
    private val beamSpace = space match {
      case SpaceType.Hamming => SpaceType.L2
      case s => s
    }
    private def dist(a: Array[Float], b: Array[Float]): Double = {
      distCalls += 1
      spaceDist(a, b, beamSpace)
    }

    /** Greedy hill-climb at one layer: follow the closest-improving link
      * until a local minimum (the hnswlib upper-layer descent, ef=1).
      */
    private def greedyClosest(q: Array[Float], start: Int, layer: Int): Int = {
      var cur = start
      var curD = dist(q, vecs(cur))
      var improved = true
      while (improved) {
        improved = false
        val ls = links(cur)(layer)
        var i = 0
        while (i < ls.length) {
          val n = ls(i)
          val dn = dist(q, vecs(n))
          if (dn < curD) { cur = n; curD = dn; improved = true }
          i += 1
        }
      }
      cur
    }

    /** Beam search at one layer from the given entry points: ef best
      * candidates for q (hnswlib searchBaseLayer). `allowed` is the
      * filtered-search hook (hnswlib's BaseFilterFunctor): ineligible nodes
      * keep navigating (they enqueue as candidates under the same distance
      * gate as eligible ones) but only eligible ordinals enter the result
      * heap — so a selective filter makes the beam expand further before
      * the heap fills, instead of returning ineligible hits or starving.
      * Traversal is still distance-bounded: once ef eligible results are
      * held, nodes farther than the worst of them stop expanding (the
      * hnswlib gate), so filtered recall is ef-bounded exactly like
      * unfiltered recall, not connectivity-complete. With the default
      * allow-all
      * the enqueue order and termination are bit-identical to the unfiltered
      * code this generalizes (persisted-layout replays depend on that).
      */
    private def beamLayer(q: Array[Float], eps: Seq[Int], ef: Int,
        layer: Int, allowed: Int => Boolean = AllowAll): Seq[(Int, Double)] = {
      val visited = new java.util.BitSet(vecs.length)
      // candidates: min-heap by distance; result: max-heap (worst first)
      implicit val byDistAsc: Ordering[(Int, Double)] = Ordering.by(-_._2)
      val cand = mutable.PriorityQueue.empty[(Int, Double)] // closest first (reverse)
      val res = mutable.PriorityQueue.empty[(Int, Double)](Ordering.by(_._2)) // furthest first
      eps.foreach { e =>
        if (!visited.get(e)) {
          visited.set(e)
          val d = dist(q, vecs(e))
          cand.enqueue((e, d))
          if (allowed(e)) {
            res.enqueue((e, d))
            if (res.size > ef) res.dequeue()
          }
        }
      }
      while (cand.nonEmpty) {
        val (c, dc) = cand.dequeue()
        if (res.size >= ef && dc > res.head._2) { cand.clear() } // done
        else {
          val ls = links(c)(layer)
          var i = 0
          while (i < ls.length) {
            val n = ls(i)
            if (!visited.get(n)) {
              visited.set(n)
              val dn = dist(q, vecs(n))
              if (res.size < ef || dn < res.head._2) {
                cand.enqueue((n, dn))
                if (allowed(n)) {
                  res.enqueue((n, dn))
                  if (res.size > ef) res.dequeue()
                }
              }
            }
            i += 1
          }
        }
      }
      res.dequeueAll.reverse.toSeq // ascending by distance
    }

    def insert(id: Any, v: Array[Float]): Unit = {
      val idx = vecs.length
      val lvl = levelOf(idx)
      vecs += v; ids += id; levels += lvl
      links += Array.fill(lvl + 1)(mutable.ArrayBuffer.empty[Int])
      if (idx == 0) { entryNode = 0; maxLevel = lvl; return }
      var cur = entryNode
      // descend the layers above the new node's level greedily (ef=1)
      var l = maxLevel
      while (l > lvl) { cur = greedyClosest(v, cur, l); l -= 1 }
      // beam-wire each shared layer, top down; this layer's candidates seed
      // the next layer's entry points (hnswlib's ep=W chaining)
      var eps: Seq[Int] = Seq(cur)
      l = math.min(maxLevel, lvl)
      while (l >= 0) {
        val found = beamLayer(v, eps, efConstruction, l)
        val cap = if (l == 0) maxM0 else m
        found.take(m).foreach { case (n, _) =>
          links(idx)(l) += n
          links(n)(l) += idx
          if (links(n)(l).length > cap) {
            // prune the neighbor's list back to its cap closest
            val pruned = links(n)(l).map(x => (x, dist(vecs(n), vecs(x))))
              .sortBy(_._2).take(cap).map(_._1)
            links(n)(l).clear(); links(n)(l) ++= pruned
          }
        }
        eps = found.map(_._1)
        l -= 1
      }
      // strict >: the FIRST node to reach the running max stays the entry
      if (lvl > maxLevel) { maxLevel = lvl; entryNode = idx }
    }

    /** Top-k (id, distance) for q with beam width ef (the efsearch knob):
      * greedy descent from the top layer, one beam at layer 0.
      */
    def search(q: Array[Float], k: Int, ef: Int): Seq[(Any, Double)] = {
      if (vecs.isEmpty) return Seq.empty
      var cur = entryNode
      var l = maxLevel
      while (l >= 1) { cur = greedyClosest(q, cur, l); l -= 1 }
      beamLayer(q, Seq(cur), math.max(ef, k), 0)
        .take(k).map { case (i, d) => (ids(i), d) }
    }

    /** Filtered top-k: descent ignores the filter (ineligible nodes still
      * navigate — the hnswlib filtered-search semantics), the layer-0 beam
      * harvests only ids passing `allowedId`. Returns up to k ELIGIBLE hits;
      * fewer only when the beam exhausts the eligible reachable set.
      */
    def searchFiltered(q: Array[Float], k: Int, ef: Int,
        allowedId: Any => Boolean): Seq[(Any, Double)] = {
      if (vecs.isEmpty) return Seq.empty
      var cur = entryNode
      var l = maxLevel
      while (l >= 1) { cur = greedyClosest(q, cur, l); l -= 1 }
      beamLayer(q, Seq(cur), math.max(ef, k), 0, i => allowedId(ids(i)))
        .take(k).map { case (i, d) => (ids(i), d) }
    }

    /** Number of this cell's nodes passing `allowed` — the clamp bound for
      * filtered beams (k and ef clamp to the eligible count, see the
      * searchFromLayout call site for why both must clamp together).
      */
    private[operators] def countEligible(allowed: Any => Boolean): Int =
      ids.count(allowed)

    /** Per-layer adjacency export for the persisted layout: (ordinal, id,
      * vector, links(layer)(..)). Reloading via `loadRaw` in ordinal order
      * reproduces the graph EXACTLY (same arrays, same walks — entry node
      * and max level are functions of the per-node layer counts).
      */
    private[operators] def exportAll: Iterator[(Int, Any, Array[Float], Array[Array[Int]])] =
      ids.indices.iterator.map(i => (i, ids(i), vecs(i), links(i).map(_.toArray)))

    /** Append one node with precomputed per-layer adjacency (NO beam
      * insertion) — the reconstruction path for persisted graphs.
      */
    private[operators] def loadRaw(id: Any, v: Array[Float],
        ls: Array[Array[Int]]): Unit = {
      val idx = ids.length
      val lvl = ls.length - 1
      ids += id; vecs += v; levels += lvl
      links += ls.map(a => mutable.ArrayBuffer.from(a))
      if (lvl > maxLevel) { maxLevel = lvl; entryNode = idx }
    }

    /** Dim-aware JVM-resident footprint estimate, the unit the driver-local
      * serving cache budgets in: a 768-d cell costs ~12× a 64-d cell of the
      * same row count, which a row-count budget can't see. Per node: the
      * float payload (4·dim + array header), the boxed id (measured for
      * strings), and the boxed adjacency (ArrayBuffer[Int] stores boxed
      * Integers — ~20 B/link). An estimate, not instrumentation — but a
      * dimension- and degree-proportional one, which is what makes the
      * budget hold across collections of different shapes.
      */
    private[operators] def residentBytes: Long = {
      var b = 0L
      b += vecs.length.toLong * (16L + 4L * dim) // vector payload
      b += vecs.length.toLong * 16L              // levels slot + buffer refs
      var i = 0
      while (i < ids.length) {
        b += (ids(i) match {
          case s: String => 48L + 2L * s.length
          case _ => 24L // boxed numeric
        })
        i += 1
      }
      i = 0
      while (i < links.length) {
        val perLayer = links(i)
        b += 24L + 8L * perLayer.length
        var l = 0
        while (l < perLayer.length) { b += 40L + 20L * perLayer(l).length; l += 1 }
        i += 1
      }
      b
    }
  }

  /** Executor-level graph cache: per-partition NSW graphs survive across
    * jobs in the executor JVM, so repeated searches against the same
    * materialized layout skip the rebuild entirely. Keyed by (layout id,
    * write-version, numPartitions, partition index) and sanity-checked
    * against the partition's row count — any layout rewrite or re-split
    * misses and rebuilds. Older versions of the same layout are evicted on
    * insert (bounded memory).
    */
  object GraphCache {
    private val cache =
      scala.collection.concurrent.TrieMap.empty[(String, Long, Int, Int), (NswIndex, Int)]
    private val insertOrder = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Int, Int)]
    private val MaxEntries = 256 // global bound across all layouts/collections
    val builds = new java.util.concurrent.atomic.AtomicInteger(0) // test/ops hook

    private val buildLocks =
      new java.util.concurrent.ConcurrentHashMap[(String, Long, Int, Int), Object]

    // Ephemeral per-call graphs (`__call_` keys) expire HERE, executor-side,
    // where the entries actually live — a driver-side eviction call never
    // reaches executor JVMs in cluster mode, and "evict everything but my
    // call" races concurrent searches into rebuild churn. Instead the cache
    // keeps the most recent `MaxEphemeralCalls` call ids per JVM (each a
    // bounded set of per-partition graphs) and drops the oldest — with its
    // build locks — when a NEWER call's first insert arrives.
    private val ephemeralOrder = new java.util.concurrent.ConcurrentLinkedQueue[String]
    private val ephemeralSeen = scala.collection.concurrent.TrieMap.empty[String, Unit]
    private val MaxEphemeralCalls = 4

    private def dropEntriesOf(callId: String): Unit =
      cache.keys.filter(_._1 == callId).foreach { k =>
        cache.remove(k); buildLocks.remove(k)
        // and the insertion-order queue: the LRU drain only runs past
        // MaxEntries, so keys evicted HERE would otherwise accumulate in the
        // queue forever in a long-lived executor (O(queue) removal is fine —
        // the queue stays bounded precisely because of this removal)
        insertOrder.remove(k)
      }

    private def noteEphemeral(callId: String): Unit =
      if (ephemeralSeen.putIfAbsent(callId, ()).isEmpty) {
        ephemeralOrder.add(callId)
        while (ephemeralSeen.size > MaxEphemeralCalls) {
          val oldest = ephemeralOrder.poll()
          if (oldest == null) return
          else if (oldest == callId) { ephemeralOrder.add(callId); return }
          else { ephemeralSeen.remove(oldest); dropEntriesOf(oldest) }
        }
      }

    def getOrBuild(layoutId: String, version: Long, numParts: Int, part: Int,
        rowCount: Int)(build: => NswIndex): NswIndex = {
      val key = (layoutId, version, numParts, part)
      // per-key lock: concurrent tasks for the same partition (e.g. several
      // query batches in one job) must not each build the same graph
      val lock = buildLocks.computeIfAbsent(key, _ => new Object)
      lock.synchronized {
      cache.get(key) match {
        case Some((idx, n)) if n == rowCount => idx
        case _ =>
          val built = build
          builds.incrementAndGet()
          // evict stale versions of this layout, then enforce the global cap
          // (always dropping the evictee's lock object with it — an evicted
          // entry whose lock lingers leaks the map in long-lived executors)
          cache.keys.filter(k => k._1 == layoutId && k._2 != version)
            .foreach { k =>
              cache.remove(k); insertOrder.remove(k)
              if (k != key) buildLocks.remove(k)
            }
          cache.put(key, (built, rowCount))
          insertOrder.add(key)
          if (layoutId.startsWith("__call_")) noteEphemeral(layoutId)
          var evicting = cache.size > MaxEntries
          while (evicting) {
            val oldest = insertOrder.poll()
            if (oldest == null) evicting = false
            else {
              cache.remove(oldest)
              if (oldest != key) buildLocks.remove(oldest)
              evicting = cache.size > MaxEntries
            }
          }
          built
      }
      }
    }

    /** Drop every cached graph of layouts under this prefix (collection
      * drop/recreate resets the version counter, so version keys alone
      * cannot distinguish incarnations).
      */
    def invalidate(layoutIdPrefix: String): Unit = {
      cache.keys.filter(_._1.startsWith(layoutIdPrefix)).foreach { k =>
        cache.remove(k); buildLocks.remove(k)
      }
      layoutRdds.keys.filter(_._1.startsWith(layoutIdPrefix)).foreach(layoutRdds.remove)
      dropCachedRoutes(layoutIdPrefix)
      dropLocalCells(layoutIdPrefix)
    }

    def clear(): Unit = {
      cache.clear(); buildLocks.clear(); layoutRdds.clear()
      ephemeralOrder.clear(); ephemeralSeen.clear(); clearCachedRoutes()
      clearLocalCells()
    }

    // test/ops hooks: a healthy cache keeps locks ≈ entries (every eviction
    // path drops the lock with the entry) and ephemeral calls bounded
    def entryCount: Int = cache.size
    def lockCount: Int = buildLocks.size
    def ephemeralCallCount: Int = ephemeralSeen.size
  }

  /** Driver-side cache of the co-located layout RDD per (path, version):
    * the part-wise repartition SHUFFLE and the max-part scan run once per
    * layout — later searches reference the same RDD, so Spark reuses the
    * shuffle files (skipped stages) instead of re-shuffling all vectors and
    * adjacency per search. Older versions of a path are evicted on insert;
    * collection drops purge via `GraphCache.invalidate`.
    */
  private val layoutRdds = scala.collection.concurrent.TrieMap
    .empty[(String, Long), (Int, org.apache.spark.rdd.RDD[Row])]

  /** Driver-side cache of a routed layout's `_route` centroids per
    * (layout id, version): the sidecar is immutable per version and tiny,
    * but reading+collecting it per request would put a parquet scan job on
    * the point-serve path that exists to minimize per-request work. Evicted
    * alongside `layoutRdds`.
    */
  private val routeCentroids = scala.collection.concurrent.TrieMap
    .empty[(String, Long), Array[Array[Float]]]

  private[operators] def dropCachedRoutes(layoutIdPrefix: String): Unit =
    routeCentroids.keys.filter(_._1.startsWith(layoutIdPrefix))
      .foreach(routeCentroids.remove)

  private[operators] def clearCachedRoutes(): Unit = routeCentroids.clear()

  /** Scalar distance with EXACTLY the codegen kernels' arithmetic
    * (`VectorExpressions`: double accumulation in index order, cos
    * zero-norm → 1.0, hamming = element-!= count) — the driver-local
    * serving path must produce bit-identical distances to the distributed
    * `ExactKnn` scan it replaces.
    */
  private[graft] def spaceDist(a: Array[Float], b: Array[Float],
      space: SpaceType): Double = graft.kernels.VecKernels.dist(a, b, space)

  /** Driver-resident cell graphs for the ZERO-JOB point-serve path:
    * (layout id, version, cell) → reconstructed graph, or None for a cell
    * the layout holds no rows for (cached too — probing an empty cell must
    * not re-scan parquet every request). Bounded (`MaxLocalCells`,
    * insertion order) and version-evicted like the executor GraphCache.
    */
  // the bound that actually protects the driver heap: resident BYTES
  // (dim- and degree-aware, NswIndex.residentBytes), not entries or rows —
  // 64 cells of a big layout, or a row budget sized for 64-d vectors
  // serving a 768-d collection, would OOM long before a count cap fires.
  // Operable knob (test/ops hook): default 1 GiB.
  @volatile var maxLocalServeBytes: Long = 1L << 30

  // ONE cell-cache implementation across all zero-job tiers (LocalCellCache,
  // shared with LocalIvfServe/LocalPqServe): same byte/entry budgets,
  // insertion-order eviction, generation-stem superseded-eviction, and
  // metric counters — the graph tier's id-type memo and ephemeral call ids
  // stay here as its typed extras.
  private val localCellCache = new LocalCellCache[NswIndex](64,
    _.residentBytes, () => maxLocalServeBytes)
  private val localIdTypes = scala.collection.concurrent.TrieMap
    .empty[(String, Long), org.apache.spark.sql.types.DataType]

  private[operators] def dropLocalCells(layoutIdPrefix: String): Unit = {
    localCellCache.drop(layoutIdPrefix)
    localIdTypes.keys.filter(_._1.startsWith(layoutIdPrefix))
      .foreach(localIdTypes.remove)
  }

  // test hook: drop just the idType entry, leaving cell graphs cached —
  // reproduces the eviction skew the accounting fix guards against
  private[graft] def evictIdTypeForTest(layoutId: String, version: Long): Unit =
    localIdTypes.remove((layoutId, version))

  private[operators] def clearLocalCells(): Unit = {
    localCellCache.clear(); localIdTypes.clear()
  }

  // test/ops hooks (stable names; backed by the shared cache's counters):
  // loads since process start, probes served from cache vs loaded, entries
  // dropped by budget/version eviction
  def localCellLoads: java.util.concurrent.atomic.AtomicInteger = localCellCache.loads
  def localCellHits: java.util.concurrent.atomic.AtomicLong = localCellCache.hits
  def localCellMisses: java.util.concurrent.atomic.AtomicLong = localCellCache.misses
  def localCellEvictions: java.util.concurrent.atomic.AtomicLong = localCellCache.evictions
  // schema re-inferences after an idType eviction (driver-side footer read,
  // no job) — kept distinct from loads so loads == "requests that collected
  // cell rows" stays reconcilable with misses
  val localIdTypeRefreshes = new java.util.concurrent.atomic.AtomicLong(0)
  // probed cells served via the distributed fallback because their
  // estimated resident size exceeds the whole local byte budget
  val localCellOversized = new java.util.concurrent.atomic.AtomicLong(0)
  // parquet bytes → resident-heap expansion guess for the pre-collect size
  // check: float vectors and int adjacency compress modestly, and JVM
  // object/array headers add more — 2× is deliberately conservative (errs
  // toward the safe distributed path for borderline cells)
  val LocalServeDiskExpansion = 2L

  /** One-stop serving-cache gauge/counter snapshot — the operability hook
    * for the driver-local point-serve tier (exposed over REST as
    * GET /v1/metrics). Counters are since process start; gauges are
    * current residency against the byte budget.
    */
  def localServeMetrics: Map[String, Long] = Map(
    "local_serve_cells" -> localCellCache.size.toLong,
    "local_serve_bytes" -> localCellCache.residentBytes,
    "local_serve_max_bytes" -> maxLocalServeBytes,
    "local_serve_loads" -> localCellLoads.get().toLong,
    "local_serve_hits" -> localCellHits.get(),
    "local_serve_misses" -> localCellMisses.get(),
    "local_serve_evictions" -> localCellEvictions.get(),
    "local_serve_idtype_refreshes" -> localIdTypeRefreshes.get(),
    "local_serve_oversized" -> localCellOversized.get())

  /** ZERO-SPARK-JOB point serving over a routed layout: beams run on the
    * DRIVER against cached cell graphs, so a warm single-query request
    * launches no job at all — the ~100–300 ms Spark job-scheduling floor
    * the latency harness measures on the pruned path disappears, leaving
    * in-memory beam cost (µs–ms). Cold cells load once per (layout,
    * version) via ONE partition-pruned job covering every missing probed
    * cell. This is the architecture serving deployments actually run:
    * Spark builds/maintains the layout, a thin reader serves points from
    * it. Results are IDENTICAL to `searchRoutedPruned` at equal knobs
    * (same reconstruction, same beams, same (distance, id) merge order);
    * `deltaRows` (streaming inserts since buildIndex, collected + cached
    * by the caller) are exact-scanned with the codegen kernels' exact
    * arithmetic and merged, mirroring the distributed delta union.
    */
  def searchPointLocal(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      space: SpaceType,
      ef: Int = 40,
      routeNprobe: Int = 4,
      queryId: String = "query_id",
      queryVec: String = "query_vec",
      cacheKey: Option[(String, Long)] = None,
      corpusIdName: String = "id",
      maxQueries: Int = 64,
      deltaRows: Array[(Any, Array[Float])] = Array.empty,
      excludeIds: Set[Any] = Set.empty,
      eligible: Option[Set[Any]] = None): DataFrame = {
    require(routeNprobe >= 1, s"routeNprobe must be >= 1, got $routeNprobe")
    val (layoutId, version) = cacheKey.getOrElse((path, 0L))
    val cents = loadRouteCentroids(spark, path, cacheKey)
    val effNprobe = math.min(routeNprobe, cents.length)
    val mdl = IvfIndex.Model(cents, space)
    val qRows = queries.select(col(queryId), col(queryVec)).collect()
      .map(r => (r.get(0), r.getAs[scala.collection.Seq[Float]](1).toArray))
    require(qRows.length <= maxQueries,
      s"searchPointLocal is the driver-serve path (${qRows.length} queries > " +
        s"$maxQueries); use searchRoutedPruned/searchFromLayout for batches")
    // `eligible` (a driver-resident id set — the caller caches it per layout
    // stamp) mirrors searchFromLayout's eligibleIds semantics EXACTLY so the
    // two paths stay bit-interchangeable: FULL fan-out (routing prunes cells
    // by vector geometry, but eligibility can be uncorrelated with geometry —
    // a selective predicate whose survivors live outside the probed cells
    // would return under-k hits), in-beam filtered beams per cell with k AND
    // ef clamped to the cell's eligible count, empty eligible cells skipped.
    // Delta rows arrive pre-filtered by the caller, like the batch union.
    val probed: Array[Seq[Int]] = eligible match {
      case Some(_) => qRows.map(_ => (0 until cents.length): Seq[Int])
      case None => qRows.map(q => mdl.probe(q._2, effNprobe))
    }
    val needed = probed.flatten.distinct.sorted
    // per-request view: DIRECT references to the graphs this request uses.
    // The shared cache is concurrently evictable (budget overflow, another
    // request's inserts, a collection drop) — re-reading it mid-request
    // could silently drop a probed cell's hits; holding references here
    // makes eviction a pure reload cost, never a correctness event.
    //
    // Resolution is the SHARED LocalCellResolve.resolveSplit (one probe /
    // oversized-pre-check / pruned-collect implementation across all
    // zero-job tiers) in its per-cell mode: loadable misses collect and
    // cache in ONE pruned job; a cell whose estimated resident bytes
    // exceed the whole budget is never collected — its hits come from a
    // bounded distributed pruned job below instead (≤ queries × k rows
    // back, same reconstruction + beam, executor GraphCache amortizes the
    // rebuild).
    lazy val graphAll = readLayoutGraph(spark, path)
    var idTypeOpt = localIdTypes.get((layoutId, version))
    if (idTypeOpt.isEmpty) {
      // schema refresh is DRIVER-SIDE footer inference, not a job — and
      // it is counted separately so loads/misses stay reconcilable
      // (previously an all-hits request with an evicted idType ran a
      // no-row load job that grew local_serve_loads with misses flat)
      localIdTypeRefreshes.incrementAndGet()
      idTypeOpt = Some(graphAll.schema("id").dataType)
      localIdTypes.keys.filter(kk => kk._1 == layoutId && kk._2 != version)
        .foreach(localIdTypes.remove) // superseded epochs must not pile up
      localIdTypes.putIfAbsent((layoutId, version), idTypeOpt.get)
    }
    val (held, oversized) = LocalCellResolve.resolveSplit[NswIndex](
      localCellCache, layoutId, version, path, "part",
      graphAll, needed, maxLocalServeBytes,
      df => df, rs => reconstructCell(rs, space))
    // per-query hits from cells too big to collect (filled below)
    var oversizedHits = Map.empty[Int, Array[(Any, Double)]]
    if (oversized.nonEmpty) {
        localCellOversized.addAndGet(oversized.length.toLong)
        val ovSet = oversized.toSet
        val routing = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.ArrayBuffer[Int]]
        qRows.indices.foreach { qi =>
          probed(qi).foreach { c =>
            if (ovSet(c)) routing.getOrElseUpdate(c, scala.collection.mutable.ArrayBuffer.empty) += qi
          }
        }
        val bcQ = spark.sparkContext.broadcast(qRows)
        // if the SECOND broadcast fails (serialization, driver memory, a
        // stopping context), the first must still be destroyed — the
        // finally below only guards the window where both exist
        val bcRoute =
          try spark.sparkContext.broadcast(routing.map { case (c, b) => (c, b.toArray) }.toMap)
          catch { case t: Throwable => bcQ.destroy(); throw t }
        try {
        val spaceVal = space; val efVal = ef; val kVal = k
        val nCellsV = cents.length; val effKey = cacheKey; val exVal = excludeIds
        val eligVal = eligible // serialized with the closure: bounded by the
                               // caller's driver-set budget, like excludeIds
        val rows = graphAll.filter(col("part").isin(oversized.map(Int.box): _*))
          .repartition(math.max(1, oversized.length), col("part")).rdd
          .mapPartitions { it =>
            val groups = it.toArray.groupBy(_.getInt(0))
            groups.iterator.flatMap { case (cell, rs) =>
              val qIdx = bcRoute.value.getOrElse(cell, Array.empty[Int])
              if (qIdx.isEmpty) Iterator.empty
              else {
                def rebuild: NswIndex = reconstructCell(rs, spaceVal)
                val index = effKey match {
                  case Some((lid, ver)) =>
                    GraphCache.getOrBuild(lid, ver, nCellsV, cell, rs.length)(rebuild)
                  case None => rebuild
                }
                qIdx.iterator.flatMap { qi =>
                  val (_, qv) = bcQ.value(qi)
                  val cellHits = eligVal match {
                    case Some(set) => // same clamp as the held-cell branch
                      val nElig = index.countEligible(set.contains)
                      if (nElig == 0) Seq.empty
                      else index.searchFiltered(qv, math.min(kVal, nElig),
                        math.min(efVal, nElig), set.contains)
                    case None => index.search(qv, kVal, efVal)
                  }
                  cellHits.filter(h => !exVal.contains(h._1))
                    .map { case (id, d) => (qi, id, d) }
                }
              }
            }
          }.collect()
        oversizedHits = rows.groupBy(_._1)
          .map { case (qi, arr) => qi -> arr.map(t => (t._2: Any, t._3)) }
        // per-request broadcasts: destroy eagerly (in finally — a failed
        // collect must not leak either) — oversized cells are by design
        // never cached, so a sustained point-serve stream against a skewed
        // layout re-enters this block per request and would accrete a
        // broadcast pair each time until ContextCleaner catches up
        } finally { bcQ.destroy(); bcRoute.destroy() }
    }
    val idType = idTypeOpt.get
    val idOrd: (Any, Any) => Boolean = idLt
    val out = new scala.collection.mutable.ArrayBuffer[Row]()
    var qi = 0
    while (qi < qRows.length) {
      val (qid, qv) = qRows(qi)
      val hits = scala.collection.mutable.ArrayBuffer.empty[(Any, Double)]
      probed(qi).foreach { c =>
        held.getOrElse(c, None).foreach { index =>
          // tombstoned nodes stay in the adjacency as routing waypoints
          // (the hnswlib markDeleted semantic) but never surface as hits;
          // the caller widens k by the tombstone count so valid nodes
          // still fill the requested depth
          val cellHits = eligible match {
            case Some(set) =>
              // same clamp as the batch in-beam filter: k and ef bound by
              // the cell's eligible count or the termination gate becomes
              // unreachable; empty eligible cells skip the beam entirely
              val nElig = index.countEligible(set.contains)
              if (nElig == 0) Seq.empty
              else index.searchFiltered(qv, math.min(k, nElig),
                math.min(ef, nElig), set.contains)
            case None => index.search(qv, k, ef)
          }
          hits ++= cellHits.filter(h => !excludeIds.contains(h._1))
        }
      }
      oversizedHits.get(qi).foreach(hits ++= _)
      var di = 0
      while (di < deltaRows.length) {
        val (id, v) = deltaRows(di)
        hits += ((id, spaceDist(qv, v, space)))
        di += 1
      }
      // the distributed paths rank via TopKByDistance: (distance asc, id asc)
      val ranked = hits.toArray
        .sortWith((a, b) => a._2 < b._2 || (a._2 == b._2 && idOrd(a._1, b._1)))
        .take(k)
      var r = 0
      while (r < ranked.length) {
        out += Row(qid, ranked(r)._1, ranked(r)._2, (r + 1).toLong)
        r += 1
      }
      qi += 1
    }
    val schema = StructType(Seq(
      StructField(queryId, queries.schema(queryId).dataType),
      StructField(corpusIdName, idType),
      StructField("distance", DoubleType),
      StructField("rnk", LongType)))
    spark.createDataFrame(java.util.Arrays.asList(out.toSeq: _*), schema)
  }

  /** A layout's graph table in canonical column order, with the links
    * column normalized to the current multi-layer ARRAY<ARRAY<INT>> schema.
    * Layouts persisted by the pre-hierarchy builder store flat ARRAY<INT>
    * adjacency (single-layer NSW); wrapping each as a one-layer list makes
    * them reconstruct exactly as the graphs they were, instead of failing
    * the search path with a cast error until a manual re-build.
    */
  private def readLayoutGraph(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    val links = raw.schema("links").dataType match {
      case ArrayType(ArrayType(_, _), _) => col("links")
      case _ => array(col("links")) // legacy single-layer adjacency
    }
    // canonical column order by NAME: a dir-partitioned routed layout reads
    // with the `part` partition column LAST, a flat layout with it first —
    // downstream RDD code accesses by ordinal
    raw.select(col("part").cast(IntegerType), col("ord"), col("id"),
      col("vector"), links.as("links"))
  }

  /** Centroids of a routed layout's `_route` sidecar, id-sorted; cached per
    * (layout id, version) when a cacheKey is given. A layout without the
    * sidecar (plain `buildLayout`) fails with an actionable message rather
    * than a raw missing-path error.
    */
  private def loadRouteCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String, cacheKey: Option[(String, Long)]): Array[Array[Float]] = {
    def load(): Array[Array[Float]] = {
      val side = new org.apache.hadoop.fs.Path(s"$path/_route")
      val fs = side.getFileSystem(spark.sessionState.newHadoopConf())
      require(fs.exists(side), s"$path has no _route sidecar " +
        "(write the layout with buildRoutedLayout to use routeNprobe)")
      val cents = spark.read.parquet(s"$path/_route").collect()
        .sortBy(_.getInt(0))
        .map(_.getAs[scala.collection.Seq[Float]](1).toArray)
      require(cents.nonEmpty, s"$path/_route exists but holds no centroids")
      cents
    }
    cacheKey match {
      case Some((layoutId, version)) =>
        routeCentroids.keys.filter(kk => kk._1 == layoutId && kk._2 != version)
          .foreach(routeCentroids.remove)
        routeCentroids.getOrElseUpdate((layoutId, version), load())
      case None => load()
    }
  }

  /** Per-partition beam results (k best per query PER PARTITION, before the
    * global merge) — deterministic given the corpus partitioning (NSW build
    * and beam search have no randomness; insertion order is partition row
    * order). Exported as an oracle input by Verify: the global merge is then
    * SQL-replayable as "rank these candidates by exact distance".
    *
    * The query set is streamed driver-side in BOUNDED batches
    * (`toLocalIterator` holds one query partition at a time, never the full
    * frame): each batch is handed straight to a spill-capable broadcast and
    * its raw array dropped, so the driver HEAP holds one batch at a time
    * (the full set resides in the block manager as disk-spillable broadcast
    * blocks — unlike the old collect, which pinned it all on the heap). The
    * per-batch mapPartitions stages union lazily and run as a single job.
    * Multi-batch runs share the per-partition graph builds through the
    * executor GraphCache: a per-call ephemeral key scopes the sharing when
    * no materialized layout key exists (one BUILD per partition total —
    * though each batch still adds one corpus-partition scan, so
    * `queryBatchSize` trades driver memory against scan count; truly huge
    * query joins belong on the IVF tier). Stale ephemeral entries expire
    * inside the executor cache itself (bounded recent-calls window), where
    * they live — never via a driver-side sweep.
    */
  def localResults(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      space: SpaceType,
      ef: Int = 40,
      m: Int = 16,
      efConstruction: Int = 200,
      corpusId: String = "id",
      corpusVec: String = "vector",
      queryId: String = "query_id",
      queryVec: String = "query_vec",
      cacheKey: Option[(String, Long)] = None,
      queryBatchSize: Int = 10000,
      levelMult: Double = Double.NaN,
      eligibleCol: Option[String] = None): DataFrame = {
    val spark = corpus.sparkSession
    require(queryBatchSize >= 1, s"queryBatchSize must be >= 1, got $queryBatchSize")
    val mVal = m; val efcVal = efConstruction; val efVal = ef; val spaceVal = space
    val kVal = k; val lmVal = levelMult

    val idIdx = 0; val vecIdx = 1; val eligIdx = 2
    // eligibility rides the corpus scan as a Catalyst-evaluated boolean
    // column (predicate pushdown/codegen apply as usual), so the beam's
    // per-ordinal probe is one executor-local HashSet lookup — never a
    // driver-collected id set. The GRAPH is built over ALL rows (ineligible
    // nodes keep navigating — filtered-HNSW semantics) and is therefore
    // byte-identical to the unfiltered build, so a cached graph serves both.
    eligibleCol.foreach { c =>
      val dt = corpus.schema(c).dataType
      require(dt == org.apache.spark.sql.types.BooleanType,
        s"eligibleCol '$c' must be BooleanType, got $dt — cast the " +
          "predicate to boolean at the caller, not inside executor tasks")
    }
    val selected = corpus.select(
      col(corpusId) +: col(corpusVec) +: eligibleCol.map(col).toSeq: _*).rdd
    val numParts = selected.getNumPartitions
    val filteredVal = eligibleCol.isDefined

    def batchRdd(qRows: Array[(Any, Array[Float])],
        effKey: Option[(String, Long)]): org.apache.spark.rdd.RDD[Row] = {
      val bcQ = spark.sparkContext.broadcast(qRows)
      selected.mapPartitionsWithIndex { (part, it) =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          def build: NswIndex = {
            val dim = rows(0).getAs[scala.collection.Seq[Float]](vecIdx).length
            val index = new NswIndex(dim, mVal, efcVal, spaceVal, lmVal)
            rows.foreach { r =>
              index.insert(r.get(idIdx), r.getAs[scala.collection.Seq[Float]](vecIdx).toArray)
            }
            index
          }
          def index = effKey match {
            case Some((layoutId, version)) =>
              GraphCache.getOrBuild(layoutId, version, numParts, part, rows.length)(build)
            case None => build
          }
          if (filteredVal) {
            val eligible = new java.util.HashSet[Any]()
            rows.foreach { r =>
              if (!r.isNullAt(eligIdx) && r.getBoolean(eligIdx))
                eligible.add(r.get(idIdx))
            }
            // empty-set skip (BEFORE the graph build — `index` is by-name)
            // + k/ef clamp to the eligible count: identical results, bounded
            // traversal (see searchFromLayout's filtered branch for the full
            // argument — searchFiltered re-raises ef to max(ef, k), so k
            // must clamp with ef)
            if (eligible.isEmpty) Iterator.empty
            else {
              val idx = index
              bcQ.value.iterator.flatMap { case (qid, qv) =>
                idx.searchFiltered(qv, math.min(kVal, eligible.size()),
                    math.min(efVal, eligible.size()), eligible.contains)
                  .map { case (id, d) => Row(qid, id, d) }
              }
            }
          } else {
            val idx = index
            bcQ.value.iterator.flatMap { case (qid, qv) =>
              idx.search(qv, kVal, efVal).map { case (id, d) => Row(qid, id, d) }
            }
          }
        }
      }
    }

    val qidType = queries.schema(queryId).dataType
    val idType = corpus.schema(corpusId).dataType
    val schema = StructType(Seq(
      StructField(queryId, qidType),
      StructField(corpusId, idType),
      StructField("distance", DoubleType)))
    val local = unionBatches(spark,
      queryBatches(queries, queryId, queryVec, queryBatchSize), cacheKey, batchRdd)
    spark.createDataFrame(local, schema)
  }

  /** Bounded query batches off the driver: `toLocalIterator` holds one
    * query partition at a time and `grouped` buffers exactly one batch —
    * the shared drain for both the live and persisted-layout search paths.
    */
  private def queryBatches(queries: DataFrame, queryId: String, queryVec: String,
      batchSize: Int): Iterator[Array[(Any, Array[Float])]] = {
    import scala.jdk.CollectionConverters._
    queries.select(col(queryId), col(queryVec)).toLocalIterator().asScala
      .map(r => (r.get(0), r.getAs[scala.collection.Seq[Float]](1).toArray))
      .grouped(batchSize)
      .map(_.toArray)
  }

  /** Shared batch loop: drains the bounded query batches through `batchRdd`
    * and unions the lazy per-batch RDDs into one job. Multi-batch calls
    * without a layout key share graph builds via an ephemeral per-call key
    * (expired executor-side by GraphCache's bounded recent-calls window).
    */
  private def unionBatches(
      spark: org.apache.spark.sql.SparkSession,
      batches: Iterator[Array[(Any, Array[Float])]],
      cacheKey: Option[(String, Long)],
      batchRdd: (Array[(Any, Array[Float])], Option[(String, Long)]) =>
        org.apache.spark.rdd.RDD[Row]): org.apache.spark.rdd.RDD[Row] = {
    val rdds = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[Row]]
    if (batches.hasNext) {
      val first = batches.next()
      val effKey =
        if (!batches.hasNext || cacheKey.isDefined) cacheKey
        else Some((s"__call_${java.util.UUID.randomUUID()}", 0L))
      rdds += batchRdd(first, effKey)
      batches.foreach(b => rdds += batchRdd(b, effKey))
    }
    if (rdds.isEmpty) spark.sparkContext.emptyRDD[Row]
    else spark.sparkContext.union(rdds.toSeq)
  }

  // ---- coarse routing (VERDICT r5 item 2): probe only nearby cells --------

  /** Identity partitioner over cell ids: partition index == cluster id, so
    * the routing table (centroid id → queries) maps straight onto task
    * partitions with no hash-collision aliasing.
    */
  private final class CellPartitioner(n: Int) extends org.apache.spark.Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Deterministic id ordering for post-shuffle rows: shuffle FETCH order is
    * not stable across runs, but NSW insertion order decides the graph — and
    * the exported candidate set must replay bit-identically for the oracle.
    * Ids in practice are numeric or string; anything else falls back to its
    * string form (determinism is what matters, not the collation).
    */
  private[graft] def idLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Int, y: Int) => x < y
    // UTF-8 BYTE order, not Java's UTF-16 code-unit order: the distributed
    // paths break distance ties through UTF8String comparisons, and the two
    // orders diverge for supplementary-plane characters — the local merge
    // must match them exactly
    case (x: String, y: String) => utf8Lt(x, y)
    case _ => utf8Lt(String.valueOf(a), String.valueOf(b))
  }

  private def utf8Lt(x: String, y: String): Boolean =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** Per-cell query assignment for one batch: cell id → indices into the
    * batch array of the queries whose `routeNprobe` nearest centroids
    * include that cell (driver-side over the tiny centroid table — the same
    * place IVF computes its probe lists).
    */
  private def routingFor(qRows: Array[(Any, Array[Float])], model: IvfIndex.Model,
      routeNprobe: Int): Array[Array[Int]] = {
    val byCell = Array.fill(model.nlist)(mutable.ArrayBuffer.empty[Int])
    var i = 0
    while (i < qRows.length) {
      model.probe(qRows(i)._2, routeNprobe).foreach(c => byCell(c) += i)
      i += 1
    }
    byCell.map(_.toArray)
  }

  /** Materialize the per-partition NSW graphs as a PERSISTED layout:
    * (part, ord, id, vector, links) parquet — the graph-tier analog of the
    * reference's hnswlib index save (`hnsw.go` Save/Load): a cold process
    * reloads adjacency instead of re-running beam insertion (reconstruction
    * is O(n·M) array fills vs O(n·efC·M·dim) distance work). Build cost is
    * paid once at buildIndex. Returns the partition count the layout was
    * built with.
    */
  def buildLayout(
      corpus: DataFrame,
      path: String,
      space: SpaceType,
      m: Int = 16,
      efConstruction: Int = 200,
      corpusId: String = "id",
      corpusVec: String = "vector",
      levelMult: Double = Double.NaN): Int = {
    val spark = corpus.sparkSession
    val mVal = m; val efcVal = efConstruction; val spaceVal = space
    val lmVal = levelMult
    val selected = corpus.select(col(corpusId), col(corpusVec)).rdd
    val numParts = selected.getNumPartitions
    val rows = selected.mapPartitionsWithIndex { (part, it) =>
      val rs = it.toArray
      if (rs.isEmpty) Iterator.empty
      else {
        val dim = rs(0).getAs[scala.collection.Seq[Float]](1).length
        val index = new NswIndex(dim, mVal, efcVal, spaceVal, lmVal)
        rs.foreach { r =>
          index.insert(r.get(0), r.getAs[scala.collection.Seq[Float]](1).toArray)
        }
        index.exportAll.map { case (ord, id, vec, links) =>
          Row(part, ord, id, vec.toSeq, links.map(_.toSeq).toSeq)
        }
      }
    }
    val idType = corpus.schema(corpusId).dataType
    spark.createDataFrame(rows, StructType(Seq(
        StructField("part", IntegerType, nullable = false),
        StructField("ord", IntegerType, nullable = false),
        StructField("id", idType),
        StructField("vector", ArrayType(FloatType, containsNull = false)),
        StructField("links",
          ArrayType(ArrayType(IntegerType, containsNull = false),
            containsNull = false)))))
      .write.mode("overwrite").parquet(path)
    numParts
  }

  /** ROUTED graph layout: k-means partitions the corpus into spatially
    * coherent cells (one NSW graph per cell, cell id == `part`), and the
    * cell centroids are persisted as a `_route` sidecar beside the
    * adjacency. `searchFromLayout(routeNprobe = Some(p))` then beams each
    * query through only its p nearest cells — the coarse-routing step that
    * keeps the graph tier viable when a 100 TB corpus means 10⁴–10⁵
    * partition graphs (the unrouted fan-out probes every one per query).
    * This composes the two reference index families: IVF's coarse quantizer
    * (`ivf.go:186-201`) picks the cells, hnswlib's beam (`hnswalg.h`
    * searchBaseLayer) ranks within them.
    *
    * Same on-disk schema as `buildLayout` plus the sidecar, so unrouted
    * `searchFromLayout` over a routed layout still works (full fan-out).
    * Returns the trained router model (tiny; also reloadable from the
    * sidecar).
    */
  def buildRoutedLayout(
      corpus: DataFrame,
      path: String,
      space: SpaceType,
      nlist: Int = 32,
      m: Int = 16,
      efConstruction: Int = 200,
      corpusId: String = "id",
      corpusVec: String = "vector",
      model: Option[IvfIndex.Model] = None,
      levelMult: Double = Double.NaN,
      maxCellRows: Long = 0L): IvfIndex.Model = {
    val spark = corpus.sparkSession
    val mVal = m; val efcVal = efConstruction; val spaceVal = space
    val lmVal = levelMult
    val mdl0 = model.getOrElse(IvfIndex.train(corpus, corpusVec, nlist, space))
    // skew guard: the build runs ONE sequential NSW-insertion task per cell
    // (insertion cost ∝ n·efC·M·dim), so a router cell holding most of a
    // skewed corpus makes the whole build wall-clock ∝ that one cell.
    // maxCellRows > 0 re-quantizes every oversized cell into its own
    // sub-centroids (trained on the cell's rows), bounding per-task work by
    // the cap — and refining the router exactly where the data is dense,
    // which is also what routed SEARCH recall wants on skew
    val mdl = if (maxCellRows > 0)
      splitOversizedCells(corpus, corpusVec, mdl0, maxCellRows)
    else mdl0
    val cells = cellRows(corpus, corpusId, corpusVec, mdl)
    val rows = cells.mapPartitionsWithIndex { (cell, it) =>
      val rs = sortedCellRows(it)
      if (rs.isEmpty) Iterator.empty
      else {
        val dim = rs(0)._2.length
        val index = new NswIndex(dim, mVal, efcVal, spaceVal, lmVal)
        rs.foreach { case (id, v) => index.insert(id, v) }
        index.exportAll.map { case (ord, id, vec, links) =>
          Row(cell, ord, id, vec.toSeq, links.map(_.toSeq).toSeq)
        }
      }
    }
    val idType = corpus.schema(corpusId).dataType
    // dir-partitioned by cell: point-serve reads prune to the probed cells'
    // directories (scan bytes ∝ routeNprobe/nlist — searchRoutedPruned)
    spark.createDataFrame(rows, StructType(Seq(
        StructField("part", IntegerType, nullable = false),
        StructField("ord", IntegerType, nullable = false),
        StructField("id", idType),
        StructField("vector", ArrayType(FloatType, containsNull = false)),
        StructField("links",
          ArrayType(ArrayType(IntegerType, containsNull = false),
            containsNull = false)))))
      .write.mode("overwrite").partitionBy("part").parquet(path)
    val centRows = mdl.centroids.zipWithIndex.map { case (c, i) => Row(i, c.toSeq) }
    spark.createDataFrame(java.util.Arrays.asList(centRows: _*), StructType(Seq(
        StructField("part", IntegerType, nullable = false),
        StructField("centroid", ArrayType(FloatType, containsNull = false)))))
      .write.mode("overwrite").parquet(s"$path/_route")
    mdl
  }

  /** Replace every centroid whose cell exceeds `cap` rows with
    * ceil(n/cap) sub-centroids trained on that cell's own rows (the same
    * deterministic bounded-sample Lloyd as the top-level router training,
    * seeded per cell). Part ids stay positional: the new centroid list
    * keeps the original order with each oversized cell expanded in place,
    * so the `_route` sidecar and every searcher work unchanged — they see
    * a router with more, finer cells where the corpus is dense. Counting
    * and per-cell training are build-time-only jobs over the oversized
    * cells (few, by construction).
    */
  private def splitOversizedCells(corpus: DataFrame, corpusVec: String,
      mdl: IvfIndex.Model, cap: Long): IvfIndex.Model = {
    // iterate: per-cell Lloyd is approximate (a sub-split can come back
    // imbalanced), so re-split any still-oversized sub-cell until the map
    // settles or a bounded number of refinement rounds runs out. Identical
    // points can never separate (argmin ties go to one centroid), so the
    // round bound is the stop for pathological duplicate-heavy cells.
    var cur = mdl
    var round = 0
    while (round < 4) {
      val assigned = IvfIndex.assign(corpus.select(col(corpusVec)), corpusVec, cur)
      val counts = assigned.groupBy(col("cluster_id")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val over = counts.filter(_._2 > cap)
      if (over.isEmpty) return cur
      // ONE stratified-sample job covers every oversized cell this round
      // (per-cell train() calls would pay a count + collect job each — at
      // build scale that overhead can exceed the giant cell it removes);
      // Lloyd then runs driver-local per cell over its bounded sample
      val fractions: Map[Int, Double] = over.map { case (c, n) =>
        c -> math.min(1.0, 40000.0 / n)
      }
      val sampled = assigned
        .filter(col("cluster_id").isin(over.keys.toSeq.map(Int.box): _*))
        .stat.sampleBy("cluster_id",
          fractions.map { case (c, f) => (Int.box(c), f) }, 42L + round)
        .select(col("cluster_id"), col(corpusVec)).collect()
      val byCell = sampled.groupBy(_.getInt(0)).map { case (c, rs) =>
        c -> rs.map(_.getAs[scala.collection.Seq[Float]](1)
          .toArray.map(_.toDouble))
      }
      val newCents = cur.centroids.indices.flatMap { c =>
        val n = counts.getOrElse(c, 0L)
        val pts = byCell.getOrElse(c, Array.empty[Array[Double]])
        if (n <= cap || pts.isEmpty) Array(cur.centroids(c))
        else {
          val k = math.min(((n + cap - 1) / cap).toInt, pts.length)
          LocalKMeans.fit(pts, k, maxIter = 40).map(_.map(_.toFloat))
        }
      }.toArray
      cur = IvfIndex.Model(newCents, cur.space)
      round += 1
    }
    cur
  }

  /** Corpus rows re-partitioned so partition index == nearest-centroid cell
    * (codegen NearestCentroid assignment + identity partitioner — one
    * shuffle, the same cost class as any groupBy).
    */
  private def cellRows(corpus: DataFrame, corpusId: String, corpusVec: String,
      mdl: IvfIndex.Model): org.apache.spark.rdd.RDD[Row] =
    IvfIndex.assign(corpus.select(col(corpusId), col(corpusVec)), corpusVec, mdl)
      .rdd.map(r => (r.getInt(2), r))
      .partitionBy(new CellPartitioner(mdl.nlist)).map(_._2)

  /** Drain one cell's rows into deterministic (id, vector) insertion order —
    * shuffle fetch order is not stable across runs, and both the graph and
    * the exported candidate set must replay identically for the oracle.
    */
  private def sortedCellRows(it: Iterator[Row]): Array[(Any, Array[Float])] =
    it.map(r => (r.get(0), r.getAs[scala.collection.Seq[Float]](1).toArray))
      .toArray.sortWith((a, b) => idLt(a._1, b._1))

  /** Per-cell beam results under coarse routing (pre-merge candidates) —
    * the live (no persisted layout) routed path. Each query is beamed only
    * through its `routeNprobe` nearest cells; cost per query is
    * routeNprobe·ef, independent of the cell count. Deterministic end to
    * end (seeded k-means, codegen assignment, id-sorted insertion, beam
    * without randomness), so Verify can export the candidate set and replay
    * the merge as exact SQL — the same construction as `graph_knn`.
    */
  def routedLocalResults(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      space: SpaceType,
      nlist: Int = 32,
      routeNprobe: Int = 4,
      ef: Int = 40,
      m: Int = 16,
      efConstruction: Int = 200,
      corpusId: String = "id",
      corpusVec: String = "vector",
      queryId: String = "query_id",
      queryVec: String = "query_vec",
      cacheKey: Option[(String, Long)] = None,
      queryBatchSize: Int = 10000,
      model: Option[IvfIndex.Model] = None,
      probeCounter: Option[org.apache.spark.util.LongAccumulator] = None,
      levelMult: Double = Double.NaN): DataFrame = {
    val spark = corpus.sparkSession
    require(queryBatchSize >= 1, s"queryBatchSize must be >= 1, got $queryBatchSize")
    val mVal = m; val efcVal = efConstruction; val efVal = ef; val spaceVal = space
    val kVal = k; val lmVal = levelMult
    val mdl = model.getOrElse(IvfIndex.train(corpus, corpusVec, nlist, space))
    require(routeNprobe >= 1, s"routeNprobe must be >= 1, got $routeNprobe")
    // clamp to the trained cell count (k-means returns fewer centroids than
    // k on small corpora) — over-probing degrades to full fan-out, a recall
    // superset, instead of failing every search after an accepted setparams
    val pEff = math.min(routeNprobe, mdl.nlist)
    val cells = cellRows(corpus, corpusId, corpusVec, mdl)

    def batchRdd(qRows: Array[(Any, Array[Float])],
        effKey: Option[(String, Long)]): org.apache.spark.rdd.RDD[Row] = {
      val bcQ = spark.sparkContext.broadcast(qRows)
      val bcRoute = spark.sparkContext.broadcast(routingFor(qRows, mdl, pEff))
      val counter = probeCounter
      val nCells = mdl.nlist
      cells.mapPartitionsWithIndex { (cell, it) =>
        val qIdx = bcRoute.value(cell)
        if (qIdx.isEmpty) Iterator.empty
        else {
          val rs = sortedCellRows(it)
          if (rs.isEmpty) Iterator.empty
          else {
            counter.foreach(_.add(qIdx.length))
            def build: NswIndex = {
              val dim = rs(0)._2.length
              val index = new NswIndex(dim, mVal, efcVal, spaceVal, lmVal)
              rs.foreach { case (id, v) => index.insert(id, v) }
              index
            }
            val index = effKey match {
              case Some((layoutId, version)) =>
                GraphCache.getOrBuild(layoutId, version, nCells, cell, rs.length)(build)
              case None => build
            }
            qIdx.iterator.flatMap { qi =>
              val (qid, qv) = bcQ.value(qi)
              index.search(qv, kVal, efVal).map { case (id, d) => Row(qid, id, d) }
            }
          }
        }
      }
    }

    val schema = StructType(Seq(
      StructField(queryId, queries.schema(queryId).dataType),
      StructField(corpusId, corpus.schema(corpusId).dataType),
      StructField("distance", DoubleType)))
    val local = unionBatches(spark,
      queryBatches(queries, queryId, queryVec, queryBatchSize), cacheKey, batchRdd)
    spark.createDataFrame(local, schema)
  }

  /** Coarse-routed approximate batch KNN: k-means cells + per-cell NSW
    * beams + one-pass global top-k merge. The routed answer to the
    * watch-item in VERDICT r5 — per-query work no longer scales with the
    * number of partition graphs.
    */
  def searchRouted(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      space: SpaceType,
      nlist: Int = 32,
      routeNprobe: Int = 4,
      ef: Int = 40,
      m: Int = 16,
      efConstruction: Int = 200,
      corpusId: String = "id",
      corpusVec: String = "vector",
      queryId: String = "query_id",
      queryVec: String = "query_vec",
      cacheKey: Option[(String, Long)] = None,
      queryBatchSize: Int = 10000,
      model: Option[IvfIndex.Model] = None,
      probeCounter: Option[org.apache.spark.util.LongAccumulator] = None,
      levelMult: Double = Double.NaN): DataFrame = {
    val localDf = routedLocalResults(corpus, queries, k, space, nlist, routeNprobe,
      ef, m, efConstruction, corpusId, corpusVec, queryId, queryVec,
      cacheKey, queryBatchSize, model, probeCounter, levelMult)
    graft.functions.vfn.topKHits(localDf, col("distance"), queryId, corpusId, k)
  }

  /** Batch KNN over a PERSISTED graph layout: graphs are reconstructed from
    * stored adjacency (no beam insertion) and cached per executor under
    * `cacheKey`; queries stream through the same bounded-batch machinery as
    * `localResults`. Results are IDENTICAL to searching the freshly built
    * graphs — reconstruction replays the exact arrays the builder exported.
    *
    * `routeNprobe = Some(p)` enables coarse routing over a layout written by
    * `buildRoutedLayout`: each query beams through only its `p` nearest
    * cells' graphs (centroids reloaded from the layout's `_route` sidecar)
    * instead of every partition — per-query cost drops from
    * numPartitions·ef to p·ef, the term that decides the graph tier's
    * viability at 10⁴–10⁵ partitions. The layout RDD itself is still
    * co-located once and reused across calls via `cacheKey` (skipped
    * stages); routing prunes the BEAM work, which dominates once the
    * shuffle is cached.
    */
  def searchFromLayout(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      space: SpaceType,
      ef: Int = 40,
      queryId: String = "query_id",
      queryVec: String = "query_vec",
      cacheKey: Option[(String, Long)] = None,
      queryBatchSize: Int = 10000,
      corpusIdName: String = "id",
      routeNprobe: Option[Int] = None,
      probeCounter: Option[org.apache.spark.util.LongAccumulator] = None,
      excludeIds: Set[Any] = Set.empty,
      eligibleIds: Option[DataFrame] = None): DataFrame = {
    import graft.functions.vfn
    val graph = readLayoutGraph(spark, path)
    val idType = graph.schema("id").dataType
    val qidType = queries.schema(queryId).dataType
    val schema = StructType(Seq(
      StructField(queryId, qidType),
      StructField(corpusIdName, idType),
      StructField("distance", DoubleType)))
    // co-locate each part's rows in one task (hash collisions merely put two
    // groups in one task — handled by the in-iterator groupBy); the shuffle
    // + max-part scan are cached per (path, version) under a cacheKey
    def loadColocated(): (Int, org.apache.spark.rdd.RDD[Row]) = {
      val maxPart = graph.agg(max(col("part"))).first()
      if (maxPart.isNullAt(0)) (0, spark.sparkContext.emptyRDD[Row])
      else {
        val n = maxPart.getInt(0) + 1
        (n, graph.repartition(n, col("part")).rdd)
      }
    }
    val (numParts, byPart) = cacheKey match {
      case Some((layoutId, version)) =>
        layoutRdds.keys.filter(kk => kk._1 == layoutId && kk._2 != version)
          .foreach(layoutRdds.remove)
        layoutRdds.getOrElseUpdate((layoutId, version), loadColocated())
      case None => loadColocated()
    }
    if (numParts == 0)
      return vfn.topKHits(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
        col("distance"), queryId, corpusIdName, k)
    // eligibility arrives as a SEPARATE per-cell id stream co-partitioned
    // with the cached layout RDD (same repartition(n, part) hashing), so
    // the layout shuffle/cache stays shared with unfiltered callers — the
    // adjacency rows never grow a column, and the beam probes an
    // executor-local HashSet (the live-path design, persisted edition).
    // The (part, id) pairs project off the CACHED co-located RDD, not a
    // fresh layout scan — steady filtered serving re-shuffles only the
    // eligible-sized pair set, never re-reads the layout parquet.
    val eligByPart = eligibleIds.map { e =>
      require(e.schema.fields.length == 1,
        s"eligibleIds must be a single id column, got ${e.schema.simpleString}")
      val partIdSchema = StructType(Seq(
        StructField("part", org.apache.spark.sql.types.IntegerType),
        StructField("id", idType)))
      val partId = spark.createDataFrame(
        byPart.mapPartitions(_.map(r => Row(r.getInt(0), r.get(2)))), partIdSchema)
      partId.join(e.select(col(e.columns(0)).as("id")), Seq("id"), "left_semi")
        .select(col("part"), col("id"))
        .repartition(numParts, col("part")).rdd
    }
    val spaceVal = space; val efVal = ef; val kVal = k
    // routing centroids: the `_route` sidecar buildRoutedLayout wrote (cell
    // ids ARE the layout's `part` values, so the per-batch routing table
    // keys straight into the part groups below). An nprobe above the
    // trained cell count clamps to full fan-out (the trained count can be
    // below the configured nlist when k-means saw fewer points than k) —
    // a recall superset, never an error on the serving path.
    val routeModel = routeNprobe.map { p =>
      require(p >= 1, s"routeNprobe must be >= 1, got $p")
      IvfIndex.Model(loadRouteCentroids(spark, path, cacheKey), space)
    }
    val effNprobe = routeModel.map(m => math.min(routeNprobe.get, m.nlist))
    // the executor cache key must name the CELL STRUCTURE, not the observed
    // data partition count: a routed layout with empty trailing cells has
    // maxPart+1 < nlist, and the point-serve path keys with nlist — one key
    // convention or cells cached by one path miss for the other
    val cacheParts = routeModel.map(_.nlist).getOrElse(numParts)

    def batchRdd(qRows: Array[(Any, Array[Float])],
        effKey: Option[(String, Long)]): org.apache.spark.rdd.RDD[Row] = {
      val bcQ = spark.sparkContext.broadcast(qRows)
      val bcRoute = routeModel.map(m =>
        spark.sparkContext.broadcast(routingFor(qRows, m, effNprobe.get)))
      val counter = probeCounter
      val exVal = excludeIds
      // eligOf(part) = None → unfiltered search; Some(set) → in-beam filter
      def searchGroups(it: Iterator[Row],
          eligOf: Int => Option[java.util.HashSet[Any]]): Iterator[Row] = {
        val groups = it.toArray.groupBy(_.getInt(0))
        groups.iterator.flatMap { case (part, rs) =>
          val qIdx = bcRoute match {
            case Some(bc) => bc.value(part)
            case None => bcQ.value.indices.toArray
          }
          val elig = eligOf(part)
          // empty eligible cell: zero hits by definition — skip BEFORE the
          // graph reconstruction (the rebuild is the dominant cold cost and
          // would be paid just to emit nothing)
          if (qIdx.isEmpty || elig.exists(_.isEmpty)) Iterator.empty
          else {
            counter.foreach(_.add(qIdx.length))
            def rebuild: NswIndex = reconstructCell(rs, spaceVal)
            val index = effKey match {
              case Some((layoutId, version)) =>
                GraphCache.getOrBuild(layoutId, version, cacheParts, part, rs.length)(rebuild)
              case None => rebuild
            }
            qIdx.iterator.flatMap { qi =>
              val (qid, qv) = bcQ.value(qi)
              val hits = elig match {
                case Some(set) =>
                  // k AND ef clamped to the cell's eligible count: the
                  // result heap can never hold more than |set| eligible
                  // nodes, and a beam width above that makes the
                  // termination gate unreachable — the beam would exhaust
                  // the cell AFTER having already found every eligible
                  // node. k must clamp WITH ef (searchFiltered re-raises
                  // ef to max(ef, k), so clamping ef alone is undone in
                  // exactly the selective regime that needs the bound).
                  // Identical results: at most |set| eligible hits exist.
                  index.searchFiltered(qv, math.min(kVal, set.size()),
                    math.min(efVal, set.size()), set.contains)
                case None => index.search(qv, kVal, efVal)
              }
              hits.filter(h => !exVal.contains(h._1))
                .map { case (id, d) => Row(qid, id, d) }
            }
          }
        }
      }
      eligByPart match {
        case Some(er) =>
          byPart.zipPartitions(er) { (it, eit) =>
            val byP = scala.collection.mutable.HashMap
              .empty[Int, java.util.HashSet[Any]]
            eit.foreach { r =>
              byP.getOrElseUpdate(r.getInt(0), new java.util.HashSet[Any]())
                .add(r.get(1))
            }
            // a cell with no eligible rows searches with an EMPTY set (zero
            // hits), never falls back to unfiltered
            searchGroups(it, p => Some(byP.getOrElse(p, new java.util.HashSet[Any]())))
          }
        case None => byPart.mapPartitions(searchGroups(_, _ => None))
      }
    }

    val local = unionBatches(spark,
      queryBatches(queries, queryId, queryVec, queryBatchSize), cacheKey, batchRdd)
    vfn.topKHits(spark.createDataFrame(local, schema),
      col("distance"), queryId, corpusIdName, k)
  }

  /** Rebuild one cell's graph from its exported (part, ord, id, vector,
    * links) rows — ord-sorted replay of `loadRaw`, NO beam insertion.
    * Shared by the batch and point-serve reload paths, so their executor
    * cache entries are interchangeable.
    */
  private def reconstructCell(rs: Array[Row], space: SpaceType): NswIndex = {
    val sorted = rs.sortBy(_.getInt(1))
    val dim = sorted(0).getAs[scala.collection.Seq[Float]](3).length
    val index = new NswIndex(dim, 16, 200, space) // reconstruction never inserts
    sorted.foreach { r =>
      index.loadRaw(r.get(2), r.getAs[scala.collection.Seq[Float]](3).toArray,
        r.getAs[scala.collection.Seq[scala.collection.Seq[Int]]](4)
          .map(_.toArray).toArray)
    }
    index
  }

  /** Cold point-serve over a dir-partitioned ROUTED layout: reads ONLY the
    * probed cells' directories (partition pruning — `part IN (...)` lands
    * in the scan's PartitionFilters, so scan bytes are ∝ routeNprobe/nlist
    * of the layout, the property that matters when the layout is 100 TB
    * and the caller has ONE query). The batch path (`searchFromLayout`)
    * instead pays one full co-located shuffle and amortizes it across
    * every query batch via the driver/executor caches; this path skips
    * that machinery entirely, so it stays cheap when the caller would
    * never amortize it. Results are identical to the batch path at the
    * same routeNprobe (same cells, same reconstruction, same beams).
    */
  def searchRoutedPruned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      space: SpaceType,
      ef: Int = 40,
      routeNprobe: Int = 4,
      queryId: String = "query_id",
      queryVec: String = "query_vec",
      cacheKey: Option[(String, Long)] = None,
      corpusIdName: String = "id",
      maxQueries: Int = 1000,
      probeCounter: Option[org.apache.spark.util.LongAccumulator] = None,
      excludeIds: Set[Any] = Set.empty): DataFrame = {
    import graft.functions.vfn
    require(routeNprobe >= 1, s"routeNprobe must be >= 1, got $routeNprobe")
    val cents = loadRouteCentroids(spark, path, cacheKey)
    // clamp like the batch path: nprobe beyond the trained cell count is
    // full fan-out, not an error (trained count < configured nlist happens
    // whenever k-means saw fewer points than k)
    val effNprobe = math.min(routeNprobe, cents.length)
    val mdl = IvfIndex.Model(cents, space)
    val qRows = queries.select(col(queryId), col(queryVec)).collect()
      .map(r => (r.get(0), r.getAs[scala.collection.Seq[Float]](1).toArray))
    require(qRows.length <= maxQueries,
      s"searchRoutedPruned is the point-serve path (${qRows.length} queries > " +
        s"$maxQueries); use searchFromLayout(routeNprobe) for batches")
    val routing = routingFor(qRows, mdl, effNprobe)
    val cells = routing.indices.filter(routing(_).nonEmpty).map(Int.box)
    val qidType = queries.schema(queryId).dataType
    val graph = readLayoutGraph(spark, path)
      .filter(col("part").isin(cells: _*)) // partition pruning: probed dirs only
    val idType = graph.schema("id").dataType
    val schema = StructType(Seq(
      StructField(queryId, qidType),
      StructField(corpusIdName, idType),
      StructField("distance", DoubleType)))
    val spaceVal = space; val efVal = ef; val kVal = k
    val nCells = cents.length
    val bcQ = spark.sparkContext.broadcast(qRows)
    val bcRoute = spark.sparkContext.broadcast(routing)
    val counter = probeCounter
    val eff = cacheKey
    val exVal = excludeIds
    val local = graph.repartition(math.max(1, cells.length), col("part")).rdd
      .mapPartitions { it =>
        val groups = it.toArray.groupBy(_.getInt(0))
        groups.iterator.flatMap { case (cell, rs) =>
          val qIdx = bcRoute.value(cell)
          if (qIdx.isEmpty) Iterator.empty
          else {
            counter.foreach(_.add(qIdx.length))
            def rebuild: NswIndex = reconstructCell(rs, spaceVal)
            val index = eff match {
              case Some((layoutId, version)) =>
                GraphCache.getOrBuild(layoutId, version, nCells, cell, rs.length)(rebuild)
              case None => rebuild
            }
            qIdx.iterator.flatMap { qi =>
              val (qid, qv) = bcQ.value(qi)
              index.search(qv, kVal, efVal)
                .filter(h => !exVal.contains(h._1))
                .map { case (id, d) => Row(qid, id, d) }
            }
          }
        }
      }
    vfn.topKHits(spark.createDataFrame(local, schema),
      col("distance"), queryId, corpusIdName, k)
  }

  /** Approximate batch KNN: per-partition NSW graphs, queries broadcast,
    * global top-k via the one-pass TopK aggregate. `ef` = efsearch.
    * `cacheKey = Some((layoutId, version))` enables the executor graph
    * cache — only safe when `corpus` is a stable materialized layout.
    */
  def search(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      space: SpaceType,
      ef: Int = 40,       // reference default efsearch ballpark
      m: Int = 16,        // const.go:18-23 M default
      efConstruction: Int = 200,
      corpusId: String = "id",
      corpusVec: String = "vector",
      queryId: String = "query_id",
      queryVec: String = "query_vec",
      cacheKey: Option[(String, Long)] = None,
      queryBatchSize: Int = 10000,
      levelMult: Double = Double.NaN,
      eligibleCol: Option[String] = None): DataFrame = {
    val localDf = localResults(corpus, queries, k, space, ef, m, efConstruction,
      corpusId, corpusVec, queryId, queryVec, cacheKey, queryBatchSize,
      levelMult, eligibleCol)
    // global merge: one-pass bounded-heap top-k per query
    graft.functions.vfn.topKHits(localDf, col("distance"), queryId, corpusId, k)
  }
}
